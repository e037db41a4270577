"""End-to-end LLM training-corpus curation (SURVEY.md §2.12 composed).

The individual operators — quality scoring (t02), exact dedup (d02),
MinHash+LSH near-dedup (d04), benchmark decontamination (d10), hash
splits (sm05) — are each oracle-checked in isolation; this module chains
them into the pipeline a training-data team actually runs:

    raw documents
      -> quality gate        (score >= threshold)
      -> exact dedup         (md5 fingerprint, keep first)
      -> near-dedup          (LSH candidates, jaccard >= 0.8, keep lower id)
      -> decontamination     (drop the held-out benchmark docs AND any
                              training doc overlapping them)
      -> deterministic split (hash boundaries, train/val/test)
      -> parquet partitioned by split + a stats report

Every stage is hash-deterministic, so a re-run over the same input
produces byte-identical decisions — the property that makes a 100 TB
curation job resumable and auditable. Stage order matters and is the
standard one: cheap row-local gates first (they shrink the corpus before
any shuffle), pairwise dedup next, decontamination last so benchmark
overlap is judged against the documents that will actually ship.

Scale shape: the stages are filters of one ``(doc_id, reached)`` relation,
where ``reached`` counts the gates a document has passed in chain order.
Each gate after the quality column is a left join of an id-cardinality
relation on doc_id (AQE picks broadcast vs shuffle), never a re-shipping
of text; the left joins keep one row per document because every id set
is unique per doc_id. The only non-linear stage is d04's candidate join,
which is bucket-local by construction. ``curate_corpus`` is ONE Spark
action, the write partitioned by split: the per-stage and per-split
counts are observed on the way, so each stage operator runs once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from european_public_data_pipeline_spark import plans
from european_public_data_pipeline_spark.operators.dedup import CONTAM_MOD, base_hash28
from european_public_data_pipeline_spark.operators.sampling import SPLIT_BP
from european_public_data_pipeline_spark.tables import load_table

QUALITY_MIN = 0.5


def split_label(doc_id_col: F.Column) -> F.Column:
    """sm05's deterministic hash-boundary split label (train/val/test)."""
    bucket = base_hash28(doc_id_col.cast("string")) % 10000
    return (
        F.when(bucket < SPLIT_BP["train"], F.lit("train"))
        .when(bucket < SPLIT_BP["train"] + SPLIT_BP["val"], F.lit("val"))
        .otherwise(F.lit("test"))
    )


# Stage names in chain order; ``reached >= k`` means a document passed the
# first k gates.
STAGES = ("quality", "exact_dedup", "near_dedup", "decontam")


def _reached_after_each_gate(
    spark: SparkSession, sf_dir: str, quality_min: float
) -> list[DataFrame]:
    """The ``(doc_id, reached)`` relation as it stands after each gate of
    ``STAGES``, one entry per gate.

    Every gate after the first is a LEFT join of an id set on ``doc_id``
    that advances ``reached`` from k-1 to k. The joins keep one row per
    document only because every id set is unique per ``doc_id``: d02 keeps
    the min doc_id per fingerprint, d04's losers are ``distinct``, and d10
    groups by doc_id.
    """
    specs = plans.all_specs()
    reached = F.col("reached")

    # 1. Quality gate: row-local scoring. t02 is a select over documents,
    # so the start relation has one row per document and the gate is a
    # column.
    quality = specs["t02_quality_score"].builder(spark, sf_dir)
    after = [
        quality.select(
            "doc_id",
            (F.col("quality_score") >= quality_min).cast("int").alias("reached"),
        )
    ]

    def gate(ids: DataFrame, present: bool, also: F.Column = F.lit(True)) -> None:
        k = len(after) + 1
        hit = F.col("_hit").isNotNull()
        passes = (reached == k - 1) & (hit if present else ~hit) & also
        after.append(
            after[-1]
            .join(ids.select("doc_id", F.lit(True).alias("_hit")), "doc_id", "left")
            .select("doc_id", F.when(passes, k).otherwise(reached).alias("reached"))
        )

    # 2. Exact dedup: fingerprint survivors (min doc_id per fingerprint).
    gate(
        specs["d02_exact_dedup_fingerprint"]
        .builder(spark, sf_dir)
        .select(F.col("survivor_doc_id").alias("doc_id")),
        present=True,
    )

    # 3. Near-dedup: for every verified pair (d1 < d2, jaccard >= 0.8) the
    # higher id loses — survivors never pair with each other.
    gate(
        specs["d04_minhash_lsh_pairs"]
        .builder(spark, sf_dir)
        .select(F.col("d2").alias("doc_id"))
        .distinct(),
        present=False,
    )

    # 4. Decontamination: drop the held-out benchmark split (a pure hash
    # predicate of doc_id — no join needed) plus every training doc d10
    # scored as contaminated. The drop set is built EXPLICITLY rather than
    # semi-joining d10's clean rows: d10 only emits rows for docs that have
    # at least one 5-gram shingle, so docs shorter than 5 words are absent
    # from its output and a semi join would silently discard them.
    is_bench = base_hash28(F.col("doc_id").cast("string")) % CONTAM_MOD == 0
    gate(
        specs["d10_contamination_check"]
        .builder(spark, sf_dir)
        .filter(F.col("contaminated"))
        .select("doc_id"),
        present=False,
        also=~is_bench,
    )
    return after


def curation_stages(
    spark: SparkSession, sf_dir: str, quality_min: float = QUALITY_MIN
) -> dict[str, DataFrame]:
    """The curation chain as doc_id relations, one entry per stage.

    Used by the driver-checked ``p03_curation_report`` and
    ``p04_surgical_curation_report`` queries (which count each stage
    against a composed-CTE oracle); ``curate_corpus`` observes the same
    chain on its write. Each stage's entry is taken from the relation as it
    stands after that stage's gate, so it carries no plan of a later gate.
    """
    after = _reached_after_each_gate(spark, sf_dir, quality_min)
    reached = F.col("reached")
    return {
        "docs": load_table(spark, sf_dir, "documents"),
        **{
            stage: rel.filter(reached >= k).select("doc_id")
            for k, (stage, rel) in enumerate(zip(STAGES, after), 1)
        },
    }


# Surgical decontamination: a doc whose benchmark-overlapping islands
# cover at most this share of its tokens is KEPT (the islands get excised
# by the write step) instead of dropped wholesale. 0.2 sits in the gap of
# the observed bimodal distribution (incidental shingle collisions < 0.2,
# near-copies of benchmark docs > 0.8 — see d19's PLANS.md notes).
SURGICAL_MAX_RATIO = 0.2


def surgical_stages(
    spark: SparkSession,
    sf_dir: str,
    quality_min: float = QUALITY_MIN,
    max_ratio: float = SURGICAL_MAX_RATIO,
) -> dict[str, DataFrame]:
    """The curation chain with d19's span-level decontamination replacing
    d10's drop-the-whole-document gate (VERDICT r5 #6): heavily
    contaminated docs (covered_ratio > max_ratio) still drop, but lightly
    contaminated ones survive with an excision work order — the shape
    production training-data audits actually gate on. Note the two gates
    measure DIFFERENT things (d10: distinct-shingle match rate; d19:
    covered-token ratio), so neither keep-set structurally contains the
    other — on corpora where overlaps are island-concentrated the
    surgical gate typically recovers documents the blunt gate drops, but
    that is an empirical property of the corpus, not a guarantee.

    Returns ``curation_stages``'s entries plus ``surgical`` (the kept
    set) and ``excision`` (d19 rows for kept docs — the spans the write
    step must cut, with token counts).
    """
    specs = plans.all_specs()
    stages = curation_stages(spark, sf_dir, quality_min)
    d19 = specs["d19_span_contamination"].builder(spark, sf_dir)
    heavy = d19.filter(F.col("covered_ratio") > max_ratio).select("doc_id")
    is_bench = base_hash28(F.col("doc_id").cast("string")) % CONTAM_MOD == 0
    surgical = (
        stages["near_dedup"].filter(~is_bench).join(heavy, "doc_id", "left_anti")
    )
    excision = d19.filter(F.col("covered_ratio") <= max_ratio).join(
        surgical, "doc_id", "left_semi"
    )
    return {**stages, "surgical": surgical, "excision": excision}


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    quality_min: float = QUALITY_MIN,
) -> dict[str, int]:
    """Run the curation chain over ``{sf_dir}/documents.parquet`` and write
    ``{out_dir}/documents.parquet`` partitioned by ``split``.

    Returns per-stage surviving-document counts (the curation report). The
    write is the only Spark action: the counts are observed on its way.
    """
    reached = F.col("reached")
    chain = Observation()
    final = _reached_after_each_gate(spark, sf_dir, quality_min)[-1].observe(
        chain,
        F.count(F.lit(1)).alias("n_raw"),
        *[
            F.count_if(reached >= k).alias(f"n_after_{stage}")
            for k, stage in enumerate(STAGES, 1)
        ],
    )

    # 5. Split + write: one pass over the surviving text, partitioned so a
    # training job reads only its split's directories.
    splits = Observation()
    curated = (
        load_table(spark, sf_dir, "documents")
        .join(final.filter(reached == len(STAGES)), "doc_id", "left_semi")
        .withColumn("split", split_label(F.col("doc_id")))
        .observe(
            splits,
            *[F.count_if(F.col("split") == s).alias(f"n_{s}") for s in SPLIT_BP],
        )
    )
    curated.write.mode("overwrite").partitionBy("split").parquet(
        f"{out_dir}/documents.parquet"
    )
    # A split with no documents writes no directory and gets no entry.
    return {**chain.get, **{k: n for k, n in splits.get.items() if n}}
