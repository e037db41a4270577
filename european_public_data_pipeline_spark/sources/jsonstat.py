"""JSON-stat 2.0 hypercube reader (SURVEY.md §2.3, R1-R3).

Semantics match the reference's pandas implementation
(/root/reference/src/ingestion/process_hicp_silver.py:21-118):

- payload keys ``id`` (dimension order), ``size`` (dimension sizes),
  ``dimension.<d>.category.index`` (``{code: position}`` dict or plain
  list), ``value`` (dense list, or sparse ``{"<flat_index>": value}`` dict
  where missing indices mean NULL);
- flat index <-> coordinates by row-major order over ``id``;
- a ``{"meta": ..., "data": payload}`` envelope (the bronze layer's wrapper,
  ingestion_hicp_raw.py:63-71) is unwrapped transparently;
- dense payloads must satisfy ``len(value) == prod(size)`` (R3).

Spark-first architecture — two scale paths, chosen by data shape:

1. ``jsonstat_to_dataframe``: ONE payload -> DataFrame. The cell grid is
   ``spark.range(n_cells)`` (parallel, no driver materialization); each
   dimension code is decoded from the flat index with stride arithmetic and
   ``element_at`` over a literal code array — pure Catalyst expressions in
   whole-stage codegen. Values land via a left join on the flat index, so
   sparse cells become NULLs exactly like the reference's ``.get(i)``.
   A 10^9-cell cube never touches the driver.

2. ``read_jsonstat_files``: MANY payload files -> DataFrame. Real Eurostat
   volume is thousands of small-to-medium cubes, so parallelism belongs
   ACROSS payloads: a ``binaryFile`` scan distributes whole payloads to
   executors and ``mapInPandas`` parses each one with plain ``json`` —
   one task per file, no shuffle, lineage column ``src_path`` for free
   (the reference's ``raw_blob`` column, process_hicp_silver.py:139).
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Above this many cells, the single-payload reader switches from a direct
# Arrow createDataFrame to the distributed range-based unpivot.
_DISTRIBUTED_THRESHOLD = 100_000

# Above this many input paths, Spark lists files with a distributed job.
_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


class JsonStatError(ValueError):
    """Malformed JSON-stat payload (missing keys / length mismatch)."""


def unwrap_envelope(payload: dict[str, Any]) -> dict[str, Any]:
    """Unwrap the bronze ``{"meta":..., "data":...}`` envelope if present."""
    if "data" in payload and isinstance(payload["data"], dict) and "id" not in payload:
        return payload["data"]
    return payload


def decode_category(dim_spec: dict[str, Any]) -> list[str]:
    """Ordered code list from a dimension spec.

    ``category.index`` may be ``{code: position}`` (order by position) or a
    plain list (already ordered); a label-only category (single-code dims)
    falls back to ``category.label`` key order.
    """
    category = dim_spec.get("category", {})
    index = category.get("index")
    if index is None:
        label = category.get("label")
        if label:
            return list(label.keys())
        raise JsonStatError("dimension has neither category.index nor category.label")
    if isinstance(index, dict):
        return [code for code, _ in sorted(index.items(), key=lambda kv: kv[1])]
    return list(index)


def parse_payload(
    payload: dict[str, Any],
) -> tuple[list[str], dict[str, list[str]], dict[int, float | None], int]:
    """Validate + decode a payload.

    Returns ``(dims, categories, values_by_index, n_cells)`` where
    ``values_by_index`` holds only present cells (sparse semantics).
    """
    payload = unwrap_envelope(payload)
    for key in ("id", "size", "dimension", "value"):
        if key not in payload:
            raise JsonStatError(f"JSON-stat payload missing required key {key!r}")
    dims: list[str] = list(payload["id"])
    sizes: list[int] = [int(s) for s in payload["size"]]
    if len(dims) != len(sizes):
        raise JsonStatError(f"id/size length mismatch: {len(dims)} vs {len(sizes)}")
    categories: dict[str, list[str]] = {}
    for d, n in zip(dims, sizes):
        if d not in payload["dimension"]:
            raise JsonStatError(f"dimension {d!r} declared in id but missing")
        codes = decode_category(payload["dimension"][d])
        if len(codes) != n:
            raise JsonStatError(
                f"dimension {d!r}: category has {len(codes)} codes, size says {n}"
            )
        categories[d] = codes
    n_cells = math.prod(sizes) if sizes else 0

    raw = payload["value"]
    values: dict[int, float | None] = {}
    if isinstance(raw, dict):  # sparse: {"<flat_index>": value}
        for k, v in raw.items():
            i = int(k)
            if not 0 <= i < n_cells:
                raise JsonStatError(f"sparse value index {i} out of range [0,{n_cells})")
            values[i] = None if v is None else float(v)
    elif isinstance(raw, list):  # dense
        if len(raw) != n_cells:
            raise JsonStatError(
                f"value length {len(raw)} != prod(size) {n_cells}"
            )
        values = {i: (None if v is None else float(v)) for i, v in enumerate(raw)}
    else:
        raise JsonStatError(f"value must be list or dict, got {type(raw).__name__}")
    return dims, categories, values, n_cells


def _strides(sizes: list[int]) -> list[int]:
    """Row-major strides: coordinate j of flat index i is (i div stride_j) % size_j."""
    strides = [1] * len(sizes)
    for j in range(len(sizes) - 2, -1, -1):
        strides[j] = strides[j + 1] * sizes[j + 1]
    return strides


def schema_for(dims: Iterable[str], value_column: str = "value") -> T.StructType:
    fields = [T.StructField(d, T.StringType(), True) for d in dims]
    fields.append(T.StructField(value_column, T.DoubleType(), True))
    return T.StructType(fields)


def jsonstat_to_dataframe(
    spark: SparkSession,
    payload: dict[str, Any],
    value_column: str = "value",
    method: str = "auto",
) -> DataFrame:
    """Unpivot one JSON-stat hypercube into a tidy DataFrame.

    ``method``: ``"distributed"`` (range + stride decode + value join),
    ``"driver"`` (direct Arrow batch — fastest for small cubes), or
    ``"auto"`` (driver below 100k cells).
    """
    dims, categories, values, n_cells = parse_payload(payload)
    if method not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown method {method!r}")
    if method == "auto":
        method = "driver" if n_cells < _DISTRIBUTED_THRESHOLD else "distributed"

    if method == "driver":
        rows = _iter_rows(dims, categories, values, n_cells)
        return spark.createDataFrame(rows, schema=schema_for(dims, value_column))

    sizes = [len(categories[d]) for d in dims]
    strides = _strides(sizes)
    grid = spark.range(n_cells).withColumnRenamed("id", "_cell_idx")
    for d, size, stride in zip(dims, sizes, strides):
        pos = (F.col("_cell_idx") / F.lit(stride)).cast("long") % F.lit(size)
        codes = F.array(*[F.lit(c) for c in categories[d]])
        grid = grid.withColumn(d, F.element_at(codes, (pos + 1).cast("int")))
    vals = spark.createDataFrame(
        list(values.items()),
        schema=T.StructType(
            [
                T.StructField("_cell_idx", T.LongType(), False),
                T.StructField(value_column, T.DoubleType(), True),
            ]
        ),
    )
    return grid.join(vals, "_cell_idx", "left").drop("_cell_idx").select(
        *dims, value_column
    )


def _iter_rows(
    dims: list[str],
    categories: dict[str, list[str]],
    values: dict[int, float | None],
    n_cells: int,
) -> Iterator[tuple]:
    sizes = [len(categories[d]) for d in dims]
    strides = _strides(sizes)
    for i in range(n_cells):
        coords = tuple(
            categories[d][(i // strides[j]) % sizes[j]] for j, d in enumerate(dims)
        )
        yield coords + (values.get(i),)


def read_jsonstat_files(
    spark: SparkSession,
    path: str | list[str],
    dims: tuple[str, ...],
    value_column: str = "value",
) -> DataFrame:
    """Parse a directory/glob of JSON-stat payload files in parallel.

    Schema is declared up front (``dims`` + value + ``src_path`` lineage);
    payloads missing a declared dimension emit NULL for it, payloads with
    extra dimensions keep them collapsed into the cartesian expansion but
    the extra codes are not projected (mirrors the presence-tolerant
    projection at process_hicp_silver.py:115).
    """
    schema = T.StructType(
        [T.StructField(d, T.StringType(), True) for d in dims]
        + [
            T.StructField(value_column, T.DoubleType(), True),
            T.StructField("src_path", T.StringType(), True),
        ]
    )
    paths = [path] if isinstance(path, str) else list(path)
    # The caller names the payloads (the bronze stage just landed them),
    # so list them on the driver: past Spark's parallel-discovery
    # threshold (32 paths by default) load() would otherwise run a
    # listing job with one task per path just to stat files it was
    # handed. Only ever raised: a lower threshold would push the listing
    # of a directory argument's subdirectories into a job instead.
    prev = spark.conf.get(_DISCOVERY_THRESHOLD, None)
    threshold = max(len(paths), int(spark.conf.get(_DISCOVERY_THRESHOLD)))
    spark.conf.set(_DISCOVERY_THRESHOLD, str(threshold))
    try:
        files = spark.read.format("binaryFile").load(paths).select("path", "content")
    finally:
        if prev is None:
            spark.conf.unset(_DISCOVERY_THRESHOLD)
        else:
            spark.conf.set(_DISCOVERY_THRESHOLD, prev)

    def parse_batch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {c: [] for c in schema.fieldNames()}
            for file_path, content in zip(pdf["path"], pdf["content"]):
                payload = json.loads(bytes(content).decode("utf-8"))
                p_dims, cats, vals, n_cells = parse_payload(payload)
                dim_pos = {d: j for j, d in enumerate(p_dims)}
                for row in _iter_rows(p_dims, cats, vals, n_cells):
                    for d in dims:
                        out[d].append(row[dim_pos[d]] if d in dim_pos else None)
                    out[value_column].append(row[-1])
                    out["src_path"].append(file_path)
            yield pd.DataFrame(out)

    return files.mapInPandas(parse_batch, schema=schema)
