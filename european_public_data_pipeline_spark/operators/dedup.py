"""Deduplication operators (SURVEY.md §2.12 — the training-data mandate).

Exact dedup, n-gram Jaccard near-dup, MinHash+LSH, SimHash, and embedding-
cosine near-dup over the ``documents`` / ``embeddings`` tables. The exact
variants generalize the reference's duplicate-key check
(/root/reference/src/quality/check_hicp_quality.py:69-73) from "count dupes"
to "resolve dupes at corpus scale".

Determinism contract: all hashing is built on a **portable 28-bit md5
prefix hash** — ``conv(substr(md5(x),1,7),16,10)`` in Spark equals
``CAST('0x'||substr(md5(x),1,7) AS BIGINT)`` in DuckDB — so the MinHash /
SimHash pipelines are bit-reproducible across engines and cluster runs
(no seed, no JVM-specific hash). Jaccard/hamming outputs are integer
arithmetic plus a single division: hash-stable.

Scale notes (100 TB):
- Exact dedup: hash-groupBy on a 128-bit fingerprint — one shuffle keyed on
  the hash, perfectly parallel, no skew (md5 is uniform).
- MinHash+LSH: signatures are one groupBy over (doc, shingle) hashes;
  banding multiplies rows by #bands (4×) not #shingles; the candidate join
  is keyed on (band_id, band_signature) buckets, so cost scales with bucket
  occupancy, not corpus². Exact-Jaccard verification touches only candidate
  pairs. This is the standard web-scale near-dedup layout (Broder '97).
- SimHash: per-doc 28-bit signature via one aggregation; candidate pairs
  via pigeonhole banding (hamming ≤ 2 with 4 bands ⇒ ≥1 exact band match),
  so recall is guaranteed, not probabilistic.
- Embedding near-dup: the all-pairs form here is the exact oracle baseline;
  the LSH-bucketed scale path lives in operators/similarity.py.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.plans.registry import register
from european_public_data_pipeline_spark.tables import load_table

# MinHash parameters: k = BANDS * ROWS universal-hash permutations over the
# 28-bit base hash, mod a Mersenne prime. Constants are arbitrary fixed odd
# integers (public-knowledge construction, Broder resemblance sketches).
MINHASH_PRIME = 2147483647
MINHASH_BANDS = 4
MINHASH_ROWS = 4
_AB = [(2 * i + 1, 7919 * (i + 1)) for i in range(MINHASH_BANDS * MINHASH_ROWS)]

SIMHASH_BITS = 28
SIMHASH_BANDS = 4  # 7 bits per band; hamming <= 2 implies >= 1 band equal
SIMHASH_MAX_HAMMING = 2

JACCARD_THRESHOLD = 0.8
COSINE_THRESHOLD = 0.45

# The word separator of every Spark tokenizer here. The DuckDB oracles
# split on '\s+', and RE2's \s is [\t\n\f\r ]; Java's \s (what F.split
# reads in r"\s+") also matches \x0B.
WORD_SPLIT = r"[\t\n\f\r ]+"

_SQL_WORDS = "string_split_regex(trim(text), '\\s+')"
_SQL_SHINGLES = f"""
SELECT DISTINCT doc_id,
       concat_ws(' ', words[i], words[i+1], words[i+2]) AS shingle
FROM (SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
     UNNEST(generate_series(1, len(words) - 2)) AS t(i)
"""


def base_hash28(col: F.Column) -> F.Column:
    """Portable 28-bit hash: integer value of the first 7 md5 hex chars."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def _shuffle_partition_count(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    ``defaultParallelism`` when the conf is non-numeric ("auto" under
    some AQE deployments)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    No Python worker: a projection splits the text once; ``arrays_zip`` of
    the word array's n shifted slices (short ones NULL-padded), a
    ``filter`` on the last word, ``transform(concat_ws)``,
    ``array_distinct`` and ``explode`` emit the per-doc set, so no
    distinct shuffle exists. Measured forms (median of 7, one task over
    sf0.1's 5,000 cached docs, n=3 / n=5): this 0.70 / 0.82 s; ``split``
    inlined into the zip (2n-1 evaluations per doc) 0.80 / 1.20 s;
    slicing the array in a lambda (``transform(sequence(1, size - n + 1),
    i -> array_join(slice(w, i, n), ' '))``, one ``split`` per shingle)
    4.28 / 4.31 s; an Arrow-batched ``mapInPandas`` loop 0.76 / 0.82 s.

    Tokenization is the oracle's ``string_split_regex(trim(text),
    '\\s+')``: ``trim`` strips spaces only (a leading tab yields an empty
    first word) and RE2's ``\\s`` is ``[\\t\\n\\f\\r ]`` — Java's would
    also split on ``\\x0B``. NULL text has no shingles.
    """
    w = F.col("words")
    # All slices, so arrays_zip names the struct fields "0".."n-1".
    windows = F.arrays_zip(*[F.slice(w, k + 1, F.size(w)) for k in range(n)])
    grams = F.transform(
        F.filter(windows, lambda win: win[str(n - 1)].isNotNull()),
        lambda win: F.concat_ws(" ", *[win[str(k)] for k in range(n)]),
    )
    return docs.select(
        "doc_id", F.split(F.trim(F.col("text")), WORD_SPLIT).alias("words")
    ).select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))


def minhash_sig(hashed_shingles: DataFrame) -> DataFrame:
    """(doc_id, m0..m15): the 16 portable universal-hash minhash components
    from a (doc_id, hv) hashed-shingle relation.

    ONE definition shared by d04/d14/d23 and
    ``streaming/dedup_admission`` — the persisted admission index must
    stay band-compatible bit-for-bit with the batch operators and their
    oracles, so the construction must never fork.
    """
    aggs = [
        F.min((F.lit(a) * F.col("hv") + F.lit(b)) % MINHASH_PRIME).alias(f"m{i}")
        for i, (a, b) in enumerate(_AB)
    ]
    return hashed_shingles.groupBy("doc_id").agg(*aggs)


def minhash_estimate(
    pairs: DataFrame, left_sig: DataFrame, right_sig: DataFrame
) -> DataFrame:
    """(d1, d2, est_jaccard) for candidate (d1, d2) pairs: the Broder
    estimate, the share of equal minhash components between d1's
    signature in ``left_sig`` and d2's in ``right_sig``. ONE definition
    shared by d14 and ``streaming/dedup_admission`` (same bit-for-bit
    rule as ``minhash_sig``). The signature columns are renamed per side
    (m<i> -> a<i> / b<i>) so the pair joins need no frame aliases."""
    k = MINHASH_BANDS * MINHASH_ROWS

    def side(sig: DataFrame, id_alias: str, prefix: str) -> DataFrame:
        return sig.select(
            F.col("doc_id").alias(id_alias),
            *[F.col(f"m{i}").alias(f"{prefix}{i}") for i in range(k)],
        )

    eq = sum(
        (F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)),
        F.lit(0),
    )
    return (
        pairs.join(side(left_sig, "d1", "a"), "d1")
        .join(side(right_sig, "d2", "b"), "d2")
        .select("d1", "d2", (eq.cast("double") / F.lit(float(k))).alias("est_jaccard"))
    )


def sig_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_sig): the 4x4 LSH band projection of a
    signature relation. Rows without signatures (null m-columns — docs
    too short to shingle) are excluded: concat_ws drops nulls, so they
    would otherwise all share one empty band_sig bucket and pair
    quadratically for nothing."""
    band_struct = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_id"),
                F.concat_ws(
                    ",",
                    *[F.col(f"m{band * MINHASH_ROWS + r}") for r in range(MINHASH_ROWS)],
                ).alias("band_sig"),
            )
            for band in range(MINHASH_BANDS)
        ]
    )
    return (
        sig.filter(F.col("m0").isNotNull())
        .select("doc_id", F.explode(band_struct).alias("b"))
        .select(
            "doc_id",
            F.col("b.band_id").alias("band_id"),
            F.col("b.band_sig").alias("band_sig"),
        )
    )


def band_candidates(left: DataFrame, right: DataFrame) -> DataFrame:
    """Distinct (d1, d2) pairs that share an LSH bucket: d1 from ``left``,
    d2 from ``right``, both ``(doc_id, band_id, band_sig)`` relations
    (``sig_bands``). The join is keyed on the (band_id, band_sig) bucket,
    so its cost follows bucket occupancy, not corpus². ONE definition for
    d04/d14/d23 and ``streaming/dedup_admission``; a self-join caller
    (``left is right``) filters ``d1 < d2`` itself, which Catalyst pushes
    into the join condition below the distinct."""
    b1 = left.select(F.col("doc_id").alias("d1"), "band_id", "band_sig")
    b2 = right.select(F.col("doc_id").alias("d2"), "band_id", "band_sig")
    return b1.join(b2, ["band_id", "band_sig"]).select("d1", "d2").distinct()


def _jaccard_on_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate (d1, d2) pairs given (doc_id, shingle)
    — the candidate verifier of d04, d14 and d23 (``posting_list_jaccard``
    is the exhaustive one).

    Pair-id melt: each candidate pair becomes two (d1, d2, doc_id) rows —
    one per member — and the shingle relation is referenced ONCE, keyed
    by doc_id (guide §2.3: ship each shingle row once, tagged with the
    pair it serves). The r13 shape joined ``sh`` back per pair SIDE,
    which physically broadcast the ENTIRE shingle relation twice (one
    driver collect + ship per side, r13 d04 plan nodes 31/37); the melt
    streams ``sh`` from cache once against the pair-bounded build side.

    The melted join also makes the size joins unnecessary: a pair's
    matched rows number ``tot = |sh(d1)| + |sh(d2)| = n1 + n2`` (shingles
    are per-doc distinct by construction) and the distinct shingles among
    them number ``u = |union|``, so ``isect = tot - u`` and
    ``jaccard = isect / union = (tot - u) / u`` — one aggregation, no
    (doc_id, n_shingles) relation, no n1/n2 joins. Same integers, same
    single double division as the ``isect / (n1 + n2 - isect)`` formula,
    so hash-identical output; a pair with NO shared shingle gets
    ``0 / (n1 + n2) = 0.0`` (d14 reports it, d04/d23 threshold it away).

    The build side is hint-broadcast: it is two fixed-width rows per
    candidate pair — LSH-bucket-occupancy-bounded, the relation the whole
    banding design exists to keep small. If a deployment's candidate set
    ever outgrew the broadcast cap, dropping the hint degrades to one
    doc_id-keyed shuffle of ``sh`` — still one pass.
    """
    melted = pairs.select(
        "d1", "d2", F.explode(F.array("d1", "d2")).alias("doc_id")
    )
    joined = sh.join(F.broadcast(melted), "doc_id")
    return joined.groupBy("d1", "d2").agg(
        (
            (F.count(F.lit(1)) - F.count_distinct(F.col("shingle"))).cast("double")
            / F.count_distinct(F.col("shingle"))
        ).alias("jaccard")
    )


@register(
    "d01_dedup_keep_first",
    category="dedup",
    doc="Exact dedup keep-first-per-key: one surviving order per customer "
    "(earliest orderdate, orderkey tie-break) via row_number — the "
    "distributed resolve step the reference's duplicate check only counts.",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
WHERE rn = 1
ORDER BY o_custkey
""",
)
def d01_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")
    )


@register(
    "d02_exact_dedup_fingerprint",
    category="dedup",
    doc="Exact duplicate resolution by md5 text fingerprint: survivors "
    "(min doc_id per fingerprint) + duplicate counts. Hash-groupBy on a "
    "uniform 128-bit key — the skew-free exact-dedup shuffle.",
    oracle="""
SELECT md5(array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ')) AS fingerprint,
       MIN(doc_id) AS survivor_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY survivor_doc_id
""",
)
def d02_exact_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.array_join(F.split(F.trim(F.lower(F.col("text"))), WORD_SPLIT), " ")
    return (
        docs.select(F.md5(norm).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("survivor_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("survivor_doc_id")
    )


# Max posting-list chunk fed to one pair fan-out task: per-task pair count
# is bounded by POSTING_CHUNK² regardless of how hot a shingle is.
POSTING_CHUNK = 512


def posting_list_pairs(grouped: DataFrame, chunk: int = POSTING_CHUNK) -> DataFrame:
    """Exact candidate pairs ``(d1 < d2)`` from posting lists, with
    per-task fan-out bounded by triangle-partitioning long lists.

    A posting list of length L generates L·(L-1)/2 pairs; fanning them out
    of the single row that holds the list serializes the hottest shingle's
    entire quadratic through one task (the d03 skew bound VERDICT r4 #3
    named). Lists longer than ``chunk`` are sorted and split into
    B = ⌈L/chunk⌉ slices, and each of the B·(B+1)/2 slice pairs becomes
    its OWN row, redistributed across the cluster before the pair
    explosion — the classic triangle partitioning of a self-join. Exactly
    the same pairs come out (sortedness makes cross-slice pairs already
    ordered); per-task work is ≤ chunk² pairs. Every list rides the one
    unified slice path: a short list (the vast majority) is the
    degenerate B = 1 case, a single (0, 0) slice-pair row through the
    same redistribution exchange, whose bytes are the (already grouped,
    corpus-bounded) posting rows — the price of executing the
    posting-list aggregation once instead of once per length branch.
    """
    ds_sorted = F.sort_array("ds")
    nb = F.ceil(F.size("ds") / F.lit(chunk)).cast("int")
    slices = F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda i: F.slice(ds_sorted, i * chunk + 1, chunk),
    )
    idx_pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), nb - 1),
            lambda i: F.transform(
                F.sequence(i, nb - 1),
                lambda j: F.struct(i.alias("i"), j.alias("j")),
            ),
        )
    )
    return (
        grouped.select("shingle", slices.alias("cs"), F.explode(idx_pairs).alias("ij"))
        .select(
            "shingle",
            F.col("ij.i").alias("ci"),
            F.col("ij.j").alias("cj"),
            F.element_at("cs", F.col("ij.i") + 1).alias("ca"),
            F.element_at("cs", F.col("ij.j") + 1).alias("cb"),
        )
        # Spread one hot shingle's slice pairs across tasks BEFORE the
        # quadratic explosion — this exchange is the skew fix. The
        # partition count is explicit because AQE coalescing judges by
        # SHUFFLE bytes: the slice rows are a few KB, the post-explosion
        # output is quadratic, and a coalesce-to-1 here would silently
        # re-serialize the hot list through one task.
        .repartition(
            _shuffle_partition_count(grouped.sparkSession),
            "shingle", "ci", "cj",
        )
        .select(F.explode("ca").alias("d1"), "cb")
        .select("d1", F.explode("cb").alias("d2"))
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
    )


@register(
    "d03_ngram_jaccard_pairs",
    category="dedup",
    bench=True,
    doc="Exact n-gram Jaccard near-duplicate pairs (3-gram shingles, "
    "jaccard >= 0.8). Self-join keyed on the shingle — the exact baseline "
    "that MinHash approximates; at 100 TB the shingle join is bounded by "
    "hot-shingle skew, which is what d04's LSH removes.",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS isect
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       CAST(isect AS DOUBLE) / (s1.n + s2.n - isect) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE CAST(isect AS DOUBLE) / (s1.n + s2.n - isect) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
""",
)
def d03_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scatter: the split/zip/explode shingling otherwise runs on the
    # unsplittable single-row-group scan's one task.
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    return exact_jaccard_pairs(docs)


def exact_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """d03's exhaustive exact-Jaccard pairs (jaccard >= 0.8) over an
    arbitrary document relation — factored out so audits (d22) can run
    the quadratic truth over a deterministic document SAMPLE at scale
    while d03 itself stays the full-corpus exact baseline."""
    return (
        posting_list_jaccard(docs)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("d1", "d2")
    )


def posting_list_jaccard(docs: DataFrame) -> DataFrame:
    """(d1 < d2, jaccard) for EVERY document pair sharing a shingle,
    unthresholded — the exhaustive exact-Jaccard relation behind d03/d22
    (thresholded by ``exact_jaccard_pairs``) and d18's threshold sweep."""
    # The shingle set feeds the posting-list grouping AND the size
    # aggregate; materialize it so the tokenize/shingle kernel runs once.
    # Explicit level: corpus-token-sized relation — serialized in memory
    # (~half the deserialized footprint for strings, measured
    # time-neutral at sf0.1), spills to local disk at 100 TB rather than
    # evicting and re-tokenizing the corpus.
    sh = shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    # Inverted-index pair generation: group the posting list per shingle
    # (ONE shuffle of the shingle relation — the naive self-join shuffles it
    # twice), drop single-document shingles (most of a diverse corpus; they
    # cannot form pairs), and fan candidate pairs out from each posting
    # list with per-task fan-out bounded by posting-list chunking
    # (``posting_list_pairs``) — a ubiquitous shingle no longer serializes
    # its L²/2 pairs through one task.
    grouped = (
        sh.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = (
        posting_list_pairs(grouped, POSTING_CHUNK)
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("isect"))
    )
    # Referenced twice (n1/n2) — cached so the per-doc count aggregation
    # over the shingle relation runs once, not once per join side.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).cache()
    n1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("isect").cast("double") / (F.col("n1") + F.col("n2") - F.col("isect"))
    # n1/n2 are corpus-cardinality: strategy left to AQE (broadcast at
    # test scale, shuffle join against the small pair set at 100 TB).
    return pairs.join(n1, "d1").join(n2, "d2").select("d1", "d2", jac.alias("jaccard"))


def _minhash_ctes() -> str:
    """Shared CTE chain: shingles -> hashes -> minhash signatures -> LSH
    bands -> candidate pairs -> sizes -> intersection counts. Used by the
    d04 detection oracle and the d14 accuracy-audit oracle."""
    mins = ", ".join(
        f"MIN(({a} * hv + {b}) % {MINHASH_PRIME}) AS m{i}"
        for i, (a, b) in enumerate(_AB)
    )
    bands = " UNION ALL ".join(
        "SELECT doc_id, {band} AS band_id, concat_ws(',', {cols}) AS band_sig FROM sig".format(
            band=band,
            cols=", ".join(
                f"m{band * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)
            ),
        )
        for band in range(MINHASH_BANDS)
    )
    return f"""sh AS ({_SQL_SHINGLES}),
h AS (SELECT doc_id, shingle, CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT) AS hv FROM sh),
sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
              AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS isect
  FROM cand c
  JOIN sh a ON a.doc_id = c.d1
  JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
  GROUP BY 1, 2
)"""


def _minhash_sig_sql() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT d1, d2,
       CAST(isect AS DOUBLE) / (s1.n + s2.n - isect) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE CAST(isect AS DOUBLE) / (s1.n + s2.n - isect) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
"""


@register(
    "d04_minhash_lsh_pairs",
    category="dedup",
    bench=True,
    doc="MinHash + LSH near-duplicate detection (k=16 portable universal "
    "hashes, 4 bands x 4 rows, exact-Jaccard verification of candidates at "
    ">= 0.8). The candidate join is keyed on (band_id, band_signature) "
    "buckets — corpus-linear, skew-free, the web-scale dedup layout. The "
    "oracle runs the identical deterministic algorithm in SQL.",
    oracle=_minhash_sig_sql(),
)
def d04_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scatter: parallelizes the shingling feeding the cached shingle
    # relation (and the cache inherits the 32-way layout for every reuse).
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    # Shingles feed signature building AND the melted candidate
    # verification — one materialization instead of two tokenizing passes.
    # Corpus-token-sized: serialized in memory, disk spill at scale (see
    # posting_list_jaccard).
    sh = shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    h = sh.withColumn("hv", base_hash28(F.col("shingle")))
    # The signature relation feeds both sides of the band self-join;
    # cached so the 16-way minhash aggregation over the shingle relation
    # runs once.
    sig = minhash_sig(h).cache()
    bands = sig_bands(sig)
    cand = band_candidates(bands, bands).filter(F.col("d1") < F.col("d2"))
    return (
        _jaccard_on_pairs(cand, sh)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("d1", "d2")
    )


def _simhash_sql() -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_WORDS}) AS token FROM documents
),
h AS (SELECT doc_id, CAST('0x' || substr(md5(token), 1, 7) AS BIGINT) AS hv FROM tok),
bitsums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sh AS (SELECT doc_id, {combine} AS simhash FROM bitsums)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
ORDER BY d1, d2
"""


@register(
    "d05_simhash_pairs",
    category="dedup",
    doc="SimHash near-duplicate pairs: 28-bit frequency-weighted signature "
    "per document (one aggregation), candidates via pigeonhole banding "
    "(4 bands of 7 bits — hamming <= 2 guarantees an exact band match, so "
    "recall is 1.0 by construction), exact hamming verification. Oracle "
    "computes the identical signatures brute-force.",
    oracle=_simhash_sql(),
)
def d05_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), WORD_SPLIT)).alias("token")
    )
    h = tok.withColumn("hv", base_hash28(F.col("token")))
    return simhash_pairs(h, SIMHASH_MAX_HAMMING).orderBy("d1", "d2")


def simhash_pairs(hashed: DataFrame, max_hamming: int) -> DataFrame:
    """(d1 < d2, hamming <= max_hamming) SimHash near-duplicate pairs from
    a (doc_id, hv) relation of 28-bit token hashes — ONE kernel for d05
    (word tokens) and m07 (byte 4-grams).

    The signature is frequency-weighted: bit b is set when more of the
    doc's hashes have bit b set than not (one aggregation). Candidates
    come from pigeonhole banding over 4 bands of 7 bits: with
    max_hamming < 4 a pair within range keeps at least one band identical,
    so the band join has guaranteed recall. Hamming is verified exactly
    on candidates.
    """
    bitsums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("hv"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    simhash = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        simhash = term if simhash is None else simhash + term
    sh = bitsums.select("doc_id", simhash.alias("simhash"))

    band_width = SIMHASH_BITS // SIMHASH_BANDS
    band_arr = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_id"),
                F.shiftright(F.col("simhash"), band * band_width)
                .bitwiseAND((1 << band_width) - 1)
                .alias("band_val"),
            )
            for band in range(SIMHASH_BANDS)
        ]
    )
    bands = sh.select("doc_id", "simhash", F.explode(band_arr).alias("b")).select(
        "doc_id", "simhash", F.col("b.band_id").alias("band_id"), F.col("b.band_val").alias("band_val")
    )
    b1 = bands.select(
        F.col("doc_id").alias("d1"), F.col("simhash").alias("sh1"), "band_id", "band_val"
    )
    b2 = bands.select(
        F.col("doc_id").alias("d2"), F.col("simhash").alias("sh2"), "band_id", "band_val"
    )
    ham = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return (
        b1.join(b2, ["band_id", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def ml_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock pyspark.ml MinHashLSH near-dup pairs (HashingTF shingle
    features, 8 hash tables, fixed seed, approxSimilarityJoin with exact
    Jaccard-distance verification <= 0.2). The JVM murmur3/LSH internals
    aren't reproducible in DuckDB — which is exactly why d04 builds its
    MinHash from portable hashes; the registered d07 audits this pair set
    against d03's exact truth instead of hash-comparing it."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = load_table(spark, sf_dir, "documents")
    sh_arrays = (
        shingles(docs)
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("sh"))
    )
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(sh_arrays)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=20260813)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.2, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("d1"),
            F.col("datasetB.doc_id").alias("d2"),
            (1 - F.col("jaccard_dist")).alias("jaccard"),
        )
        .filter(F.col("d1") < F.col("d2"))
        .orderBy("d1", "d2")
    )


def _d07_oracle() -> str:
    # Exact-pair count from the same shingle/Jaccard definition as d03,
    # with literal TRUEs for the recall/precision bounds the Spark side
    # must earn.
    return f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS isect
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT COUNT(*) AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS precision_ok
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE CAST(isect AS DOUBLE) / (s1.n + s2.n - isect) >= {JACCARD_THRESHOLD}
"""


@register(
    "d07_ml_minhash_lsh",
    category="dedup",
    doc="Quality audit of the stock pyspark.ml MinHashLSH path "
    "(ml_minhash_pairs) against the exact n-gram Jaccard truth (d03's "
    "pair set): one row with the exact pair count and recall/precision "
    ">= 0.9 booleans. The ML pair set itself isn't DuckDB-reproducible "
    "(JVM murmur3 + LSH seeding), so the oracle checks the DETERMINISTIC "
    "surface: the exact count, plus literal TRUEs that hash-mismatch if "
    "the ML path's recall or precision degrades. Same audit shape as "
    "d14's MinHash accuracy audit.",
    oracle=_d07_oracle(),
)
def d07_ml_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One lazy row: both pair sets (each pair once, d1 < d2) meet in one
    # full outer join, so d03's plan and the MinHashLSH join run once.
    # An empty set counts as fully recalled / precise.
    ml = ml_minhash_pairs(spark, sf_dir).select("d1", "d2", F.lit(1).alias("in_ml"))
    exact = d03_ngram_jaccard_pairs(spark, sf_dir).select(
        "d1", "d2", F.lit(1).alias("in_exact")
    )
    counts = exact.join(ml, ["d1", "d2"], "full_outer").agg(
        F.count("in_exact").alias("n_exact"),
        F.count("in_ml").alias("n_ml"),
        F.count(F.col("in_exact") + F.col("in_ml")).alias("n_hit"),
    )

    def at_least_90pct(n: str) -> F.Column:
        return F.when(F.col(n) == 0, True).otherwise(F.col("n_hit") / F.col(n) >= 0.9)

    return counts.select(
        F.col("n_exact").alias("n_exact_pairs"),
        at_least_90pct("n_exact").alias("recall_ok"),
        at_least_90pct("n_ml").alias("precision_ok"),
    )


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Min-label propagation connected components: (id) x (src, dst) -> (id, component).

    Each iteration: every vertex takes the minimum of its own label and its
    neighbors' labels — one shuffle join + one aggregation. Iteration count
    is bounded by the component diameter, which for near-duplicate graphs is
    tiny (LSH-verified clusters are clique-like); ``localCheckpoint`` after
    every round truncates the lineage so the plan doesn't grow by two joins
    per iteration (on a real cluster, ``checkpoint`` to durable storage for
    fault tolerance). For adversarial long-chain graphs the alternating
    large-star/small-star variant (Kiveris et al., "Connected Components in
    MapReduce and Beyond") converges in O(log n) rounds with the same
    per-round shape; the propagation step below is its building block.
    Convergence is detected by counting changed labels (one action per
    round) and the loop exits early. Running out of ``max_iter`` rounds
    raises ``RuntimeError`` rather than returning unconverged labels.
    """
    sym = edges.select(F.col("src"), F.col("dst")).union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = vertices.select("id", F.col("id").alias("component")).localCheckpoint()
    for _ in range(max_iter):
        nbr = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce("nbr_min", "component")).alias(
                    "component"
                ),
                (F.coalesce("nbr_min", "component") < F.col("component")).alias(
                    "changed"
                ),
            )
            .localCheckpoint()
        )
        n_changed = new_labels.filter("changed").limit(1).count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


@register(
    "d08_dup_clusters",
    category="dedup",
    doc="Near-duplicate cluster assignment: connected components over the "
    "exact-Jaccard pair graph (d03's edges) via iterative min-label "
    "propagation, cluster id = min doc_id in the component, survivor = "
    "that doc. This is the resolve step after pair generation in a "
    "web-scale dedup pipeline: pairs alone over-count (A~B~C is one "
    "cluster, two pairs). Oracle computes the identical transitive "
    "closure with a recursive CTE.",
    oracle=f"""
WITH RECURSIVE sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS isect
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2
  FROM inter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
  WHERE CAST(isect AS DOUBLE) / (s1.n + s2.n - isect) >= {JACCARD_THRESHOLD}
),
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       CAST(doc_id = cluster_id AS INT) AS is_survivor
FROM comp
ORDER BY doc_id
""",
)
def d08_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = d03_ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    )
    comp = connected_components(
        docs.select(F.col("doc_id").alias("id")), pairs
    )
    w = Window.partitionBy("cluster_id")
    return (
        comp.select(
            F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_survivor", (F.col("doc_id") == F.col("cluster_id")).cast("int")
        )
        .orderBy("doc_id")
    )


def _dot64_sql(a: str, b: str) -> str:
    """Sequential left-fold dot product — identical op order to F.aggregate."""
    return (
        f"list_reduce(list_transform(generate_series(1, 64), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


@register(
    "d06_embedding_near_dup",
    category="dedup",
    bench=True,
    doc="Embedding-cosine near-duplicate pairs (cosine >= 0.45), exact "
    "all-pairs baseline. Dot products are sequential left-folds in double "
    "precision on both engines — bit-identical, no rounding needed. The "
    "LSH-bucketed scale path is s02 in operators/similarity.py.",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         sqrt({_dot64_sql('embedding', 'embedding')}) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS v1, b.vec_id AS v2,
       {_dot64_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_dot64_sql('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= {COSINE_THRESHOLD}
ORDER BY v1, v2
""",
)
def d06_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.operators.similarity import (
        gemm_cosine_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # The exact cosine rides out of the GEMM kernel, so the r13 embedding
    # cache, the JVM norm fold and the two rescore joins are gone; the
    # kernel persists the PACKED relation so its self-join costs one
    # corpus pass, not two.
    e = emb.select("vec_id", "embedding")
    return (
        gemm_cosine_pairs(e, COSINE_THRESHOLD)
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .orderBy("v1", "v2")
    )


# Incremental-dedup corpus split: these sources are the "new crawl batch";
# everything else is the already-deduplicated reference corpus.
BATCH_SOURCES = ("src0", "src1", "src2", "src3")


@register(
    "d09_incremental_dedup",
    category="dedup",
    doc="Incremental exact dedup: a new crawl batch survives only if its "
    "text fingerprint (a) wins keep-first within the batch and (b) does "
    "not already exist in the reference corpus — resolved with one "
    "window + one left-anti join, both keyed on the uniform md5 "
    "fingerprint (skew-free). This is the production shape at 100 TB: "
    "the corpus side is a pre-built fingerprint index you bucket on fp "
    "(operators/scale_joins.py) and reuse across batches, so each "
    "increment costs one co-located anti join, never a re-cluster of "
    "the world.",
    oracle=f"""
WITH f AS (
  SELECT doc_id, source,
         md5(array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ')) AS fingerprint
  FROM documents
),
batch AS (SELECT * FROM f WHERE source IN {BATCH_SOURCES!r}),
corpus AS (SELECT DISTINCT fingerprint FROM f WHERE source NOT IN {BATCH_SOURCES!r}),
keep_first AS (
  SELECT doc_id, source, fingerprint
  FROM (SELECT doc_id, source, fingerprint,
               ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM batch)
  WHERE rn = 1
)
SELECT k.doc_id, k.source, k.fingerprint
FROM keep_first k
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fingerprint = k.fingerprint)
ORDER BY k.doc_id
""",
)
def d09_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.array_join(F.split(F.trim(F.lower(F.col("text"))), WORD_SPLIT), " ")
    f = docs.select("doc_id", "source", F.md5(norm).alias("fingerprint"))
    batch = f.filter(F.col("source").isin(*BATCH_SOURCES))
    corpus = (
        f.filter(~F.col("source").isin(*BATCH_SOURCES))
        .select("fingerprint")
        .distinct()
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    keep_first = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        keep_first.join(corpus, "fingerprint", "left_anti")
        .select("doc_id", "source", "fingerprint")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# d10: train/benchmark contamination check

# Pseudo benchmark split: portable_hash(doc_id) % CONTAM_MOD == 0 marks a
# document as "held-out benchmark" (~5% of the corpus, deterministic).
CONTAM_MOD = 20
CONTAM_NGRAM = 5
CONTAM_THRESHOLD = 0.5

_HASH_DOC_SQL = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)"

_SQL_SHINGLES5 = f"""
SELECT DISTINCT doc_id,
       concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3], words[i+4]) AS shingle
FROM (SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
     UNNEST(generate_series(1, len(words) - {CONTAM_NGRAM - 1})) AS t(i)
"""


@register(
    "d10_contamination_check",
    category="dedup",
    doc="Benchmark-contamination detection: mark ~5% of documents as a "
    "held-out benchmark split (portable_hash(doc_id) % 20 == 0), build the "
    "set of distinct 5-token n-grams they contain, and score every "
    "training document by the fraction of its distinct 5-grams that appear "
    "in that benchmark set — the standard test-set-overlap decontamination "
    "pass (as in GPT-3/PaLM data cleaning). Shape: per-doc distinct "
    "shingles (split/zip/explode expressions, row-local), benchmark set "
    "broadcast to the probe side (it is a few percent of the corpus; at "
    "100 TB swap the broadcast for a shuffle join on the shingle key or a "
    "bloom-filter prefilter), one map-side-combined groupBy per doc. "
    "Ratios are single divisions of exact integers — bit-exact parity.",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES5}),
split AS (SELECT doc_id, {_HASH_DOC_SQL} % {CONTAM_MOD} = 0 AS is_bench FROM documents),
bench AS (
  SELECT DISTINCT shingle FROM sh JOIN split USING (doc_id) WHERE is_bench
),
train AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN split USING (doc_id) WHERE NOT is_bench
)
SELECT t.doc_id,
       COUNT(*) AS n_shingles,
       COUNT(b.shingle) AS n_matched,
       CAST(COUNT(b.shingle) AS DOUBLE) / COUNT(*) AS contamination_rate,
       CAST(COUNT(b.shingle) AS DOUBLE) / COUNT(*) > {CONTAM_THRESHOLD}
         AS contaminated
FROM train t LEFT JOIN bench b ON t.shingle = b.shingle
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
)
def d10_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The benchmark flag is a pure function of doc_id — computed inline on
    # the shingle relation, no corpus-cardinality join or broadcast.
    # Cache: both the benchmark-set branch and the training probe branch
    # scan the shingle relation — without this the shingle generation
    # runs twice (seen in the physical plan).
    is_bench = base_hash28(F.col("doc_id").cast("string")) % CONTAM_MOD == 0
    sh = (
        shingles(docs, n=CONTAM_NGRAM)
        .withColumn("is_bench", is_bench)
        .cache()
    )
    bench = (
        sh.filter(F.col("is_bench")).select("shingle").distinct()
    )
    train = sh.filter(~F.col("is_bench")).select("doc_id", "shingle")
    matched = train.join(
        F.broadcast(bench.withColumn("hit", F.lit(1))), "shingle", "left"
    )
    rate = F.col("n_matched").cast("double") / F.col("n_shingles")
    return (
        matched.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_matched"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_matched",
            rate.alias("contamination_rate"),
            (rate > CONTAM_THRESHOLD).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# d11: chunk-level containment (copied-passage detection)

CONTAIN_MIN_SHARED = 3

CONTAIN_CHUNK = 10  # tokens per chunk (stride half) — passage granularity
_SQL_CHUNK_HASHES = f"""
SELECT DISTINCT doc_id,
       md5(array_to_string(words[i : i + {CONTAIN_CHUNK - 1}], ' ')) AS chunk_hash
FROM (SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
     UNNEST(generate_series(1, greatest(1, len(words) - {CONTAIN_CHUNK - 1}), {CONTAIN_CHUNK // 2})) AS t(i)
"""


@register(
    "d11_chunk_containment",
    category="dedup",
    doc="Containment detection: document pairs sharing >= 3 identical "
    "10-token chunks (stride 5) — catches copied "
    "passages inside otherwise-different documents, which whole-document "
    "fingerprints (d02) and full-text similarity (d03/d04) both miss "
    "when the surrounding text differs. Shape: row-local chunk hashing, "
    "one self-join keyed on the chunk hash (bucket-local, like LSH "
    "banding), per-pair count filter. Quadratic only within identical-"
    "chunk buckets — exactly where true positives live.",
    oracle=f"""
WITH ch AS ({_SQL_CHUNK_HASHES})
SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared_chunks
FROM ch a JOIN ch b ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
GROUP BY d1, d2
HAVING COUNT(*) >= {CONTAIN_MIN_SHARED}
ORDER BY d1, d2
""",
)
def d11_chunk_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), WORD_SPLIT)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.lit(1), F.size(F.col("w")) - (CONTAIN_CHUNK - 1)),
        F.lit(CONTAIN_CHUNK // 2),
    )
    ch = (
        docs.select("doc_id", w.alias("w"))
        .select("doc_id", "w", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("w"), F.col("start"), CONTAIN_CHUNK))
            ).alias("chunk_hash"),
        )
        .distinct()
    )
    a = ch.select(F.col("doc_id").alias("d1"), "chunk_hash")
    b = ch.select(F.col("doc_id").alias("d2"), "chunk_hash")
    return (
        a.join(b, "chunk_hash")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared_chunks"))
        .filter(F.col("shared_chunks") >= CONTAIN_MIN_SHARED)
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# d13: per-document novelty (first-occurrence share)


@register(
    "d13_shingle_novelty",
    category="dedup",
    doc="Per-document novelty score: the fraction of a document's distinct "
    "3-gram shingles whose global FIRST occurrence (min doc_id, i.e. "
    "earliest in ingest order) is this document — the cheap 'how much new "
    "text does this batch contribute' signal incremental curation uses to "
    "demote boilerplate-heavy sources before any pairwise dedup runs. "
    "Shape: one groupBy on the shingle key for first owners, then the "
    "shingle relation joins back on the SAME key (the exchange is reuse-"
    "eligible) and rolls up per doc_id — two corpus-linear shuffles, no "
    "pairwise stage at all.",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
SELECT s.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS novelty
FROM sh s JOIN firsts f USING (shingle)
GROUP BY s.doc_id
ORDER BY s.doc_id
""",
)
def d13_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs)
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty", F.col("n_novel").cast("double") / F.col("n_shingles")
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# d14: MinHash estimator accuracy audit


def _d14_oracle() -> str:
    k = MINHASH_BANDS * MINHASH_ROWS
    eq = " + ".join(
        f"(CASE WHEN s1.m{i} = s2.m{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return f"""
WITH {_minhash_ctes()}
SELECT c.d1, c.d2,
       CAST(({eq}) AS DOUBLE) / {k}.0 AS est_jaccard,
       CAST(COALESCE(i.isect, 0) AS DOUBLE)
         / (z1.n + z2.n - COALESCE(i.isect, 0)) AS exact_jaccard,
       abs(CAST(({eq}) AS DOUBLE) / {k}.0
           - CAST(COALESCE(i.isect, 0) AS DOUBLE)
             / (z1.n + z2.n - COALESCE(i.isect, 0))) AS abs_err
FROM cand c
JOIN sig s1 ON s1.doc_id = c.d1
JOIN sig s2 ON s2.doc_id = c.d2
JOIN sizes z1 ON z1.doc_id = c.d1
JOIN sizes z2 ON z2.doc_id = c.d2
LEFT JOIN inter i ON i.d1 = c.d1 AND i.d2 = c.d2
ORDER BY c.d1, c.d2
"""


@register(
    "d14_minhash_accuracy_audit",
    category="dedup",
    doc="Sketch-quality audit for the MinHash pipeline: for every LSH "
    "candidate pair, the signature-estimated Jaccard (fraction of equal "
    "minhash components, the Broder estimator) next to the exact shingle "
    "Jaccard and their absolute error — the measurement that justifies "
    "band/row parameters before trusting d04 on a new corpus. Shape: the "
    "same bucketed candidate generation as d04 (corpus-linear), one "
    "signature self-join on the (tiny) candidate set, and d04's melted "
    "exact verification of the candidates (0.0 for a candidate sharing "
    "no shingle) — never all pairs, no per-doc size relation.",
    oracle=_d14_oracle(),
)
def d14_minhash_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scatter: parallelizes the shingling feeding the cached shingle
    # relation, as in d04 (the verification melt streams that cache).
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    # Corpus-token-sized: serialized in memory, disk spill at scale (see
    # posting_list_jaccard).
    sh = shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    h = sh.withColumn("hv", base_hash28(F.col("shingle")))
    # Feeds both band sides and both estimate sides: cached, as in d04,
    # so the 16-way minhash aggregation runs once.
    sig = minhash_sig(h).cache()
    bands = sig_bands(sig)
    cand = band_candidates(bands, bands).filter(F.col("d1") < F.col("d2"))
    # Every candidate shares a band, so both members have shingles and
    # the verifier returns one row per candidate (0.0 when disjoint).
    est = F.col("est_jaccard")
    exact = F.col("jaccard")
    return (
        minhash_estimate(cand, sig, sig)
        .join(_jaccard_on_pairs(cand, sh), ["d1", "d2"])
        .select(
            "d1",
            "d2",
            est,
            exact.alias("exact_jaccard"),
            F.abs(est - exact).alias("abs_err"),
        )
        .orderBy("d1", "d2")
    )


@register(
    "d15_cross_source_duplication",
    category="dedup",
    doc="Cross-source content-overlap matrix: for every source pair, how "
    "many distinct 3-gram shingles appear in BOTH sources, plus the "
    "containment ratio (shared / smaller side's shingle vocabulary) — "
    "the provenance audit run before mixing crawls, dumps, and licensed "
    "corpora (overlapping content double-counts training mass and leaks "
    "eval splits across sources; exact-fingerprint sharing is zero on "
    "this corpus, so the shingle tier is the discriminating signal). "
    "Shape: the d03 posting-list pattern keyed on the shingle — the "
    "per-shingle source set is collected row-locally (sources are a "
    "tiny domain) and pairs fan out from each set; per-source vocab "
    "sizes are a broadcast-sized relation. Corpus-linear, never a "
    "sources x corpus join.",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
ss AS (
  SELECT DISTINCT s.shingle, d.source
  FROM sh s JOIN documents d ON d.doc_id = s.doc_id
),
vocab AS (SELECT source, COUNT(*) AS n_sh FROM ss GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM ss a
  JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.source_a, s.source_b, CAST(s.n_shared AS BIGINT) AS n_shared,
       CAST(s.n_shared AS DOUBLE) / least(va.n_sh, vb.n_sh) AS containment
FROM shared s
JOIN vocab va ON va.source = s.source_a
JOIN vocab vb ON vb.source = s.source_b
ORDER BY n_shared DESC, source_a, source_b
""",
)
def d15_cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ss = (
        shingles(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("shingle", "source")
        .distinct()
    )
    vocab = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    per_sh = ss.groupBy("shingle").agg(F.collect_set("source").alias("sources"))
    pairs = (
        per_sh.filter(F.size("sources") >= 2)
        .select(F.explode("sources").alias("source_a"), "sources")
        .select("source_a", F.explode("sources").alias("source_b"))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    va = vocab.select(F.col("source").alias("source_a"), F.col("n_sh").alias("na"))
    vb = vocab.select(F.col("source").alias("source_b"), F.col("n_sh").alias("nb"))
    return (
        shared.join(F.broadcast(va), "source_a")
        .join(F.broadcast(vb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (F.col("n_shared").cast("double") / F.least("na", "nb")).alias(
                "containment"
            ),
        )
        .orderBy(F.desc("n_shared"), "source_a", "source_b")
    )


REPEAT_TOP_K = 50


@register(
    "d16_top_repeated_chunks",
    category="dedup",
    doc="Memorization-risk audit: the corpus's most-repeated 10-token "
    "chunks (d11's chunk grain) — how many documents contain each chunk "
    "and how many distinct sources it spans, top 50 by document count. "
    "Highly-repeated passages are what models memorize verbatim; this "
    "is the report a curation run reads before choosing dedup "
    "thresholds. Shape: row-local chunk hashing, ONE chunk-keyed "
    "aggregate (map-side combined), distributed TakeOrdered top-k — "
    "never a global sort of the chunk relation.",
    oracle=f"""
WITH ch AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(words[i : i + {CONTAIN_CHUNK - 1}], ' ')) AS chunk_hash
  FROM (SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
       UNNEST(generate_series(1, greatest(1, len(words) - {CONTAIN_CHUNK - 1}), {CONTAIN_CHUNK // 2})) AS t(i)
),
j AS (
  SELECT c.chunk_hash, c.doc_id, d.source
  FROM ch c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT chunk_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM j
GROUP BY chunk_hash
ORDER BY n_docs DESC, chunk_hash
LIMIT {REPEAT_TOP_K}
""",
)
def d16_top_repeated_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), WORD_SPLIT)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.lit(1), F.size(F.col("w")) - (CONTAIN_CHUNK - 1)),
        F.lit(CONTAIN_CHUNK // 2),
    )
    ch = (
        docs.select("doc_id", w.alias("w"))
        .select("doc_id", "w", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("w"), F.col("start"), CONTAIN_CHUNK))
            ).alias("chunk_hash"),
        )
        .distinct()
    )
    return (
        ch.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy(F.desc("n_docs"), F.asc("chunk_hash"))
        .limit(REPEAT_TOP_K)
    )


_D17_ORACLE_TEMPLATE = f"""
WITH RECURSIVE sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS isect
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT d1, d2
  FROM inter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
  WHERE CAST(isect AS DOUBLE) / (s1.n + s2.n - isect) >= {JACCARD_THRESHOLD}
),
edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL SELECT d2, d1 FROM pairs),
reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id),
quality AS (
  SELECT doc_id,
         0.25 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100)
           + 0.25 * (CAST(n_stop AS DOUBLE) / n_tokens)
           + 0.25 * (1 - CAST(max_freq AS DOUBLE) / n_tokens)
           + 0.25 * (1 - CAST(n_nonalpha AS DOUBLE) / n_tokens) AS quality_score
  FROM (
    SELECT doc_id,
           len(w) AS n_tokens,
           len(list_filter(w, t -> list_contains({{en_stopwords}}, t))) AS n_stop,
           list_max(list_transform(list_distinct(w),
                    t -> len(list_filter(w, x -> x = t)))) AS max_freq,
           len(list_filter(w, t -> NOT regexp_matches(t, '^[A-Za-z]+$'))) AS n_nonalpha
    FROM (SELECT doc_id, {{sql_tokens}} AS w FROM documents)
  )
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       MAX(CASE WHEN rk = 1 THEN doc_id END) AS rep_doc_id,
       MAX(CASE WHEN rk = 1 THEN quality_score END) AS rep_quality
FROM (
  SELECT c.cluster_id, c.doc_id, q.quality_score,
         ROW_NUMBER() OVER (
           PARTITION BY c.cluster_id
           ORDER BY q.quality_score DESC, c.doc_id) AS rk
  FROM comp c JOIN quality q USING (doc_id)
)
GROUP BY cluster_id
ORDER BY cluster_id
"""


def _d17_oracle() -> str:
    # Lazy import: text.py itself imports the registry, and the registry
    # package imports this module — a module-level import here would make the
    # import graph entry-point-dependent (tests importing text first saw a
    # partially initialized module). register() resolves callable oracles on
    # first use, after all modules are loaded.
    from european_public_data_pipeline_spark.operators.text import (
        STOPWORDS as _TEXT_STOPWORDS,
        _SQL_TOKENS as _SQL_TOKENS_FOR_D17,
    )

    _EN_STOPWORDS = _TEXT_STOPWORDS["en"]
    return _D17_ORACLE_TEMPLATE.format(
        en_stopwords=repr(_EN_STOPWORDS), sql_tokens=_SQL_TOKENS_FOR_D17
    )


@register(
    "d17_cluster_representatives",
    category="dedup",
    doc="Dedup RESOLVE step, production form: within each near-duplicate "
    "cluster (d08's connected components) keep the HIGHEST-QUALITY "
    "document (t02's composite score, doc_id tie-break) instead of the "
    "arbitrary min-id survivor — keep-best is what curation pipelines "
    "actually ship, since near-dup groups often mix a clean original "
    "with truncated/boilerplated copies. Shape: cluster ids come from "
    "the iterative min-label propagation (graph-sized state), quality "
    "is row-local HOFs, and the representative is one argmax window "
    "over the cluster key. The oracle recomputes the identical "
    "transitive closure (recursive CTE) and the identical quality "
    "expression, so the chosen representative matches bit-for-bit.",
    oracle=_d17_oracle,
)
def d17_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.operators.text import t02_quality_score

    comp = d08_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    quality = t02_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    ranked = comp.join(quality, "doc_id").withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("rep_doc_id"),
            F.max(F.when(F.col("rk") == 1, F.col("quality_score"))).alias(
                "rep_quality"
            ),
        )
        .orderBy("cluster_id")
    )


@register(
    "d18_threshold_sensitivity",
    category="dedup",
    doc="Dedup-threshold calibration report: exact-Jaccard candidate "
    "pairs are computed ONCE (d03's unthresholded posting-list relation, "
    "no shingle self-join) and then "
    "counted under a sweep of thresholds (0.5-0.9) together with the "
    "implied removal rate — the report a curation run reads BEFORE "
    "committing to JACCARD_THRESHOLD, since pair volume (and thus "
    "removed-document count) is highly nonlinear in the cutoff. One "
    "extra aggregation over the pair relation, zero extra corpus "
    "scans; at 100 TB the pair relation is the already-bounded LSH "
    "candidate set. Removal estimate = distinct d2 docs (keep-min-id "
    "convention) — exact for pair-shaped duplicate structure, a "
    "lower bound when clusters chain (d08 resolves exactly).",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS isect
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT d1, d2,
         CAST(isect AS DOUBLE) / (s1.n + s2.n - isect) AS j
  FROM inter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
),
thresholds AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS thr),
n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
SELECT t.thr AS threshold,
       CAST(COALESCE(SUM(CASE WHEN j.j >= t.thr THEN 1 END), 0) AS BIGINT)
         AS n_pairs,
       CAST(COUNT(DISTINCT CASE WHEN j.j >= t.thr THEN j.d2 END) AS BIGINT)
         AS n_docs_removed,
       CAST(COUNT(DISTINCT CASE WHEN j.j >= t.thr THEN j.d2 END) AS DOUBLE)
         / (SELECT n FROM n_docs) AS removal_rate
FROM thresholds t CROSS JOIN jac j
GROUP BY t.thr
ORDER BY t.thr
""",
)
def d18_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scatter: the shingling otherwise runs on the single-row-group scan's
    # one task (d03's reason).
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    jac = posting_list_jaccard(docs)
    n_docs = docs.count()
    thr_df = spark.createDataFrame(
        [(t,) for t in (0.5, 0.6, 0.7, 0.8, 0.9)], "threshold double"
    )
    hit = F.col("jaccard") >= F.col("threshold")
    return (
        F.broadcast(thr_df)
        .crossJoin(jac)
        .groupBy("threshold")
        .agg(
            F.coalesce(F.sum(F.when(hit, 1)), F.lit(0)).alias("n_pairs"),
            F.countDistinct(F.when(hit, F.col("d2"))).alias("n_docs_removed"),
        )
        .select(
            "threshold",
            "n_pairs",
            "n_docs_removed",
            (F.col("n_docs_removed").cast("double") / F.lit(n_docs)).alias(
                "removal_rate"
            ),
        )
        .orderBy("threshold")
    )


@register(
    "d19_span_contamination",
    category="dedup",
    doc="Span-level decontamination localization — the step AFTER d10's "
    "doc-level flag: for every training document sharing 5-gram spans "
    "with the benchmark split, WHERE the overlap sits (first/last span "
    "position), how many matching spans, how many contiguous islands "
    "they merge into, and how many tokens excising the islands would "
    "remove (with the ratio to doc length) — the excision work order a "
    "surgical decontamination pass executes instead of dropping whole "
    "documents. Shape: positioned 5-gram relation (row-local explode, "
    "corpus-token-sized like d10's), benchmark shingle set broadcast to "
    "the probe side, then gaps-and-islands (lag + running sum windows) "
    "over MATCHED spans only — a relation proportional to the "
    "contamination, not the corpus. All island arithmetic is integer — "
    "bit-exact parity; the ratio is one exact-int division.",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, len(words) AS n_tokens, i AS p,
         concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3], words[i+4]) AS shingle
  FROM (SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
       UNNEST(generate_series(1, len(words) - {CONTAM_NGRAM - 1})) AS t(i)
),
split AS (SELECT doc_id, {_HASH_DOC_SQL} % {CONTAM_MOD} = 0 AS is_bench FROM documents),
bench AS (SELECT DISTINCT shingle FROM pos JOIN split USING (doc_id) WHERE is_bench),
hits AS (
  SELECT p.doc_id, p.n_tokens, p.p
  FROM pos p
  JOIN split s ON s.doc_id = p.doc_id AND NOT s.is_bench
  JOIN bench b ON b.shingle = p.shingle
),
isl AS (
  SELECT doc_id, n_tokens, p,
         SUM(CASE WHEN prev IS NULL OR p - prev > {CONTAM_NGRAM - 1} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS island_id
  FROM (SELECT doc_id, n_tokens, p,
               LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        FROM hits)
),
agg_isl AS (
  SELECT doc_id, n_tokens, island_id,
         MIN(p) AS i_start, MAX(p) + {CONTAM_NGRAM - 1} AS i_end,
         COUNT(*) AS n_in_island
  FROM isl GROUP BY doc_id, n_tokens, island_id
)
SELECT doc_id,
       CAST(SUM(n_in_island) AS BIGINT) AS n_spans,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(MIN(i_start) AS BIGINT) AS first_pos,
       CAST(MAX(i_end) - {CONTAM_NGRAM - 1} AS BIGINT) AS last_pos,
       CAST(SUM(i_end - i_start + 1) AS BIGINT) AS covered_tokens,
       CAST(SUM(i_end - i_start + 1) AS DOUBLE) / n_tokens AS covered_ratio
FROM agg_isl
GROUP BY doc_id, n_tokens
ORDER BY doc_id
""",
)
def d19_span_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = CONTAM_NGRAM
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), WORD_SPLIT)
    base = docs.select("doc_id", w.alias("w")).withColumn("n_tokens", F.size("w"))
    shingle = F.concat_ws(
        " ", *[F.element_at("w", F.col("p") + i) for i in range(n)]
    )
    # Guard: sequence(1, k) with k < 1 would COUNT DOWN in Spark; docs
    # shorter than the n-gram emit no spans.
    pos = (
        base.filter(F.col("n_tokens") >= n)
        .select(
            "doc_id",
            "n_tokens",
            "w",
            F.explode(F.sequence(F.lit(1), F.col("n_tokens") - (n - 1))).alias("p"),
        )
        .select("doc_id", "n_tokens", "p", shingle.alias("shingle"))
        .withColumn(
            "is_bench",
            base_hash28(F.col("doc_id").cast("string")) % CONTAM_MOD == 0,
        )
        .cache()  # feeds the benchmark-set branch AND the probe branch
    )
    bench = pos.filter(F.col("is_bench")).select("shingle").distinct()
    hits = (
        pos.filter(~F.col("is_bench"))
        .join(F.broadcast(bench), "shingle", "left_semi")
        .select("doc_id", "n_tokens", "p")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("p")
    w_run = w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = hits.withColumn("prev", F.lag("p").over(w_doc)).withColumn(
        "island_id",
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("p") - F.col("prev") > n - 1), 1
            ).otherwise(0)
        ).over(w_run),
    )
    agg_isl = isl.groupBy("doc_id", "n_tokens", "island_id").agg(
        F.min("p").alias("i_start"),
        (F.max("p") + (n - 1)).alias("i_end"),
        F.count(F.lit(1)).alias("n_in_island"),
    )
    covered = F.sum(F.col("i_end") - F.col("i_start") + 1)
    return (
        agg_isl.groupBy("doc_id", "n_tokens")
        .agg(
            F.sum("n_in_island").alias("n_spans"),
            F.count(F.lit(1)).alias("n_islands"),
            F.min("i_start").alias("first_pos"),
            (F.max("i_end") - (n - 1)).alias("last_pos"),
            covered.alias("covered_tokens"),
            (covered.cast("double") / F.col("n_tokens")).alias("covered_ratio"),
        )
        .drop("n_tokens")
        .orderBy("doc_id")
    )


@register(
    "d20_fuzzy_entity_matching",
    category="dedup",
    doc="Blocked fuzzy entity matching — the edit-distance counterpart "
    "of the token-set dedup family (catches typo-grade variants that "
    "shingle Jaccard misses: one-character edits barely move token "
    "sets). Classic entity-resolution shape: distinct entity names, a "
    "BLOCKING key (first name token) bounds the quadratic to within-"
    "block pairs (the same locality rule as d11/d12 — all-pairs only "
    "inside a block), exact Levenshtein (JVM codegen, row-local) "
    "filters to distance <= 3. Output pairs with per-name entity "
    "counts — the merge work list an MDM/catalog-reconciliation pass "
    "consumes. Skew bound = hottest block (documented; the production "
    "refinement is a second blocking key, e.g. name length band, "
    "exactly like d03's chunking). Integer distances: bit-exact parity.",
    oracle="""
WITH names AS (
  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts FROM part GROUP BY p_name
),
b AS (SELECT p_name, n_parts, string_split(p_name, ' ')[1] AS blk FROM names)
SELECT a.p_name AS name_a, c.p_name AS name_b,
       CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS dist,
       a.n_parts AS n_parts_a, c.n_parts AS n_parts_b
FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
WHERE levenshtein(a.p_name, c.p_name) <= 3
ORDER BY name_a, name_b
""",
)
def d20_fuzzy_entity_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    b = names.select(
        "p_name", "n_parts", F.split("p_name", " ").getItem(0).alias("blk")
    )
    a = b.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "blk",
    )
    c = b.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "blk",
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(c, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist <= 3)
        .select(
            "name_a",
            "name_b",
            dist.cast("long").alias("dist"),
            "n_parts_a",
            "n_parts_b",
        )
        .orderBy("name_a", "name_b")
    )


CDC_WINDOW_BASE = 257  # polynomial base for the 4-token boundary window
CDC_DIVISOR = 16       # expected chunk length ~= divisor tokens


@register(
    "d21_cdc_chunk_dedup",
    category="dedup",
    doc="Content-defined chunking dedup — the shift-invariant upgrade of "
    "d11's fixed 10-token windows: chunk boundaries are cut where a "
    "rolling 4-token polynomial hash ≡ 0 (mod 16), so boundaries are a "
    "function of LOCAL content and an insertion early in a document "
    "re-chunks only the surrounding chunk instead of shifting every "
    "window after it (the CDC property storage dedup systems — and "
    "incremental corpus dedup — rely on). Per doc: boundary positions "
    "via a row-local HOF filter, chunk md5s via one HOF transform over "
    "the start list; cross-doc: one chunk-hash-keyed aggregate counts "
    "distinct docs per chunk, and the probe join scores each doc's "
    "duplicated-chunk ratio. All hashing is integer/md5 — bit-exact "
    "parity; the only shuffles are the chunk-hash aggregate and the "
    "probe join, both corpus-chunk-linear (~1/16 of the token count).",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
),
h AS (
  SELECT doc_id, ws, len(ws) AS n,
         list_transform(ws, t -> CAST('0x' || substr(md5(t), 1, 7) AS BIGINT)) AS hv
  FROM base
),
cuts AS (
  SELECT doc_id, ws, n,
         list_filter(
           CASE WHEN n >= 5 THEN generate_series(2, n - 3) ELSE [] END,
           i -> ((((hv[i] * {CDC_WINDOW_BASE} + hv[i+1]) * {CDC_WINDOW_BASE} + hv[i+2]) * {CDC_WINDOW_BASE} + hv[i+3]) % {CDC_DIVISOR}) = 0
         ) AS cs
  FROM h
),
starts AS (
  SELECT doc_id, ws, n, list_concat([CAST(1 AS BIGINT)], cs) AS ss FROM cuts
),
chunks AS (
  SELECT doc_id, n,
         list_transform(generate_series(1, len(ss)),
            j -> md5(array_to_string(ws[ss[j] : coalesce(ss[j+1] - 1, n)], ' '))) AS chs
  FROM starts
),
ex AS (SELECT doc_id, unnest(chs) AS chunk_hash FROM chunks),
stats AS (
  SELECT chunk_hash, COUNT(DISTINCT doc_id) AS docs_with FROM ex GROUP BY chunk_hash
)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN s.docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(SUM(CASE WHEN s.docs_with > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_ratio
FROM ex e JOIN stats s ON s.chunk_hash = e.chunk_hash
GROUP BY e.doc_id
ORDER BY e.doc_id
""",
)
def d21_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), WORD_SPLIT)
    base = docs.select("doc_id", ws.alias("ws")).withColumn("n", F.size("ws"))
    hv = F.transform(
        F.col("ws"), lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("bigint")
    )
    b = F.lit(CDC_WINDOW_BASE)

    def wh(i):
        e = lambda k: F.element_at(F.col("hv"), k)  # noqa: E731 (1-based)
        return ((e(i) * b + e(i + 1)) * b + e(i + 2)) * b + e(i + 3)

    # Boundary window starts in [2, n-3]; shorter docs are one chunk.
    # (sequence(2, k) with k < 2 would count DOWN in Spark — guard it.)
    idx = F.when(
        F.col("n") >= 5, F.sequence(F.lit(2), F.col("n") - 3)
    ).otherwise(F.array().cast("array<int>"))
    withcuts = base.withColumn("hv", hv).withColumn(
        "ss",
        F.concat(
            F.array(F.lit(1)),
            F.filter(idx, lambda i: wh(i) % CDC_DIVISOR == 0),
        ),
    )
    # Chunk j spans tokens [ss[j], next_start - 1] (or n for the last);
    # F.get is 0-based so get(ss, j) IS the 1-based j+1 element, null OOB.
    start = lambda j: F.element_at(F.col("ss"), j)  # noqa: E731
    end = lambda j: F.coalesce(F.get(F.col("ss"), j) - 1, F.col("n"))  # noqa: E731
    chs = F.transform(
        F.sequence(F.lit(1), F.size("ss")),
        lambda j: F.md5(
            F.array_join(F.slice("ws", start(j), end(j) - start(j) + 1), " ")
        ),
    )
    ex = withcuts.select(
        "doc_id", F.explode(chs).alias("chunk_hash")
    ).cache()  # feeds the chunk-frequency aggregate AND the probe join
    stats = ex.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("docs_with")
    )
    dup = F.sum(F.when(F.col("docs_with") > 1, 1).otherwise(0))
    return (
        ex.join(stats, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            (dup.cast("double") / F.count(F.lit(1))).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


def _d22_oracle() -> str:
    # Raw per-name resolution (not all_specs): resolving d22's own lazy
    # oracle from inside its composer would recurse (p03's lesson).
    from european_public_data_pipeline_spark.plans import registry

    d03 = registry._resolve("d03_ngram_jaccard_pairs").oracle
    d04 = registry._resolve("d04_minhash_lsh_pairs").oracle
    return f"""
WITH truth AS ({d03}),
det AS ({d04})
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT COUNT(*) FROM det) AS BIGINT) AS n_detected,
       CAST((SELECT COUNT(*) FROM truth t JOIN det d ON d.d1 = t.d1 AND d.d2 = t.d2) AS BIGINT)
         AS n_true_detected,
       CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
            ELSE CAST((SELECT COUNT(*) FROM truth t JOIN det d ON d.d1 = t.d1 AND d.d2 = t.d2) AS DOUBLE)
                 / (SELECT COUNT(*) FROM truth) END AS banding_recall,
       CAST(10000 AS INTEGER) AS sample_rate_bp
"""


@register(
    "d22_lsh_recall_audit",
    category="dedup",
    oracle=_d22_oracle,
    doc="LSH banding recall against exhaustive ground truth — the audit "
    "d14 does NOT cover: d14 scores estimator accuracy on pairs the "
    "banding GENERATED, while the pairs banding silently NEVER "
    "generates are exactly what you can't see from inside the LSH "
    "pipeline. This op computes d03's exhaustive exact-Jaccard pair "
    "set (the quadratic truth you can afford at audit scale / on a "
    "sample at 100 TB), d04's banded-and-verified detections, and "
    "their intersection: n_detected == n_true_detected proves d04's "
    "exact verification gives perfect precision by construction, and "
    "banding_recall quantifies the miss rate the 4x4 band geometry "
    "accepts — the number that justifies (or revises) band/row "
    "parameters on a new corpus. Composed-oracle pattern (p03's "
    "recipe): the oracle embeds the registered d03 + d04 SQL as CTEs, "
    "so the audit's ground truth is itself oracle-verified. At 100 TB "
    "the exhaustive truth is impossible; pass truth_sample_bp < 10000 "
    "for the sampled-truth mode (deterministic hash-rate document "
    "sample feeding the truth side, detections endpoint-filtered, rate "
    "reported in the output row — unbiased recall estimate at ~rate² "
    "of the truth cost; measured curve in PLANS.md).",
)
def d22_lsh_recall_audit(
    spark: SparkSession, sf_dir: str, truth_sample_bp: int = 10000
) -> DataFrame:
    from european_public_data_pipeline_spark.plans.registry import all_specs

    specs = all_specs()
    if truth_sample_bp >= 10000:
        # Full-corpus truth — the oracle-checked default at audit scale.
        truth = (
            specs["d03_ngram_jaccard_pairs"].builder(spark, sf_dir)
            .select("d1", "d2")
        )
        det = specs["d04_minhash_lsh_pairs"].builder(spark, sf_dir).select(
            "d1", "d2"
        )
    else:
        # Sampled-truth mode for scale (VERDICT r5 #5): the exhaustive
        # quadratic truth is impossible over 100 TB, so restrict it to a
        # deterministic hash-rate document sample (sm01's primitive —
        # portable, rerun-stable, no RNG state). Detections are filtered
        # to pairs with BOTH endpoints in the sample: banding ran over
        # the FULL corpus (production shape) and is independent of the
        # sample draw, so detected∩truth over sampled truth is an
        # unbiased recall estimate. Truth cost scales with rate² — the
        # knob that turns a corpus² audit into a fixed budget. The rate
        # rides in the output row: no silent caps.
        docs = load_table(spark, sf_dir, "documents")
        sample = docs.filter(
            base_hash28(F.col("doc_id").cast("string")) % 10000
            < F.lit(truth_sample_bp)
        )
        truth = exact_jaccard_pairs(sample).select("d1", "d2")
        ids = sample.select("doc_id")
        # Strategy left to AQE: the sampled id set is broadcastable at
        # audit scale but at 100 TB both sides of the semi join are big —
        # the pair set is already detection-sized (<< corpus²) either way.
        det = (
            specs["d04_minhash_lsh_pairs"].builder(spark, sf_dir)
            .select("d1", "d2")
            .join(ids, F.col("d1") == F.col("doc_id"), "left_semi")
            .join(ids, F.col("d2") == F.col("doc_id"), "left_semi")
        )
    # Both pair sets feed a count aggregate AND the intersection join —
    # cache them or the d03/d04 pipelines execute twice each (review r5:
    # roughly half the audit's wall-clock).
    truth = truth.cache()
    det = det.cache()
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_det = det.agg(F.count(F.lit(1)).alias("n_detected"))
    n_both = truth.join(det, ["d1", "d2"]).agg(
        F.count(F.lit(1)).alias("n_true_detected")
    )
    return (
        n_true.crossJoin(F.broadcast(n_det))
        .crossJoin(F.broadcast(n_both))
        .select(
            "n_true",
            "n_detected",
            "n_true_detected",
            F.when(
                F.col("n_true") > 0,
                F.col("n_true_detected").cast("double") / F.col("n_true"),
            ).alias("banding_recall"),
            F.lit(min(truth_sample_bp, 10000)).cast("int").alias(
                "sample_rate_bp"
            ),
        )
    )


@register(
    "d23_incremental_lsh_probe",
    category="dedup",
    doc="Incremental near-dup detection against a STORED LSH index — "
    "d09's incremental idea upgraded from exact fingerprints to "
    "MinHash: an arriving batch (doc_id % 10 == 0, the deterministic "
    "'new documents' split) probes the existing corpus's band buckets, "
    "so only batch-vs-corpus candidates are generated and verified — "
    "the corpus is never re-paired against itself, which is what makes "
    "near-dup admission control O(batch) instead of O(corpus) per "
    "ingest at 100 TB (the band relation is the persisted index; here "
    "it is rebuilt inline so the oracle can see it). Canonical (d1<d2) "
    "output with exact-Jaccard verification at the d04 threshold — "
    "exactly d04's cross-split subset, which the oracle states "
    "directly: the full candidate relation filtered to pairs with "
    "exactly one batch-side member.",
    oracle=f"""
WITH {_minhash_ctes()}
SELECT d1, d2,
       CAST(isect AS DOUBLE) / (s1.n + s2.n - isect) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE ((d1 % 10 = 0) <> (d2 % 10 = 0))
  AND CAST(isect AS DOUBLE) / (s1.n + s2.n - isect) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
""",
)
def d23_incremental_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Corpus-token-sized: serialized in memory, disk spill at scale (see
    # posting_list_jaccard).
    sh = shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    h = sh.withColumn("hv", base_hash28(F.col("shingle")))
    bands = sig_bands(minhash_sig(h))
    is_batch = F.col("doc_id") % 10 == 0
    # In production the corpus side is the persisted index, read not
    # rebuilt. The sides are disjoint, so the canonical (least, greatest)
    # order keeps the candidate pairs distinct.
    cand = band_candidates(bands.filter(is_batch), bands.filter(~is_batch)).select(
        F.least("d1", "d2").alias("d1"), F.greatest("d1", "d2").alias("d2")
    )
    return (
        _jaccard_on_pairs(cand, sh)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# d24: embedding-space decontamination (semantic twin of d10)

EMB_BENCH_MOD = 20  # ~5% of vectors form the held-out benchmark split
EMB_CONTAM_THRESHOLD = 0.42

_HASH_VEC_SQL = "CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT)"


@register(
    "d24_embedding_decontamination",
    category="dedup",
    doc="Embedding-space benchmark decontamination: mark ~5% of vectors "
    "as a held-out benchmark split (portable_hash(vec_id) % 20 == 0, "
    "d10's split convention) and score every training vector by its "
    "MAX cosine against any benchmark vector — the semantic overlap "
    "gate that catches paraphrased test-set leakage d10's exact 5-gram "
    "match cannot see (as in Llama/GPT-4-style embedding "
    "decontamination passes). Shape mirrors d10 exactly: the benchmark "
    "side is broadcast (a real benchmark suite is bounded while the "
    "corpus grows, so the broadcast never scales with data), the "
    "corpus is streamed through one BroadcastNestedLoopJoin and ONE "
    "map-side-combined per-vector aggregate — no corpus-keyed shuffle "
    "beyond flag-sized rows, no corpus pairs ever materialized to "
    "disk. argmax via max(struct(cosine, -bid)): highest cosine, "
    "smallest benchmark id on ties. Dot products are sequential "
    "left-folds in double precision on both engines (d06's "
    "bit-exactness recipe); the flag threshold compares identical "
    "doubles, so parity is exact with no rounding. At 100 TB: swap "
    "the 5%-split for the real benchmark suite (fixed, tiny) and this "
    "is a single map-side pass over the corpus.",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         sqrt({_dot64_sql('embedding', 'embedding')}) AS nrm,
         {_HASH_VEC_SQL} % {EMB_BENCH_MOD} = 0 AS is_bench
  FROM embeddings
),
bench AS (SELECT vec_id AS bid, embedding AS bemb, nrm AS bnrm
          FROM e WHERE is_bench),
scored AS (
  SELECT t.vec_id, b.bid,
         {_dot64_sql('t.embedding', 'b.bemb')} / (t.nrm * b.bnrm) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY t.vec_id
           ORDER BY {_dot64_sql('t.embedding', 'b.bemb')} / (t.nrm * b.bnrm) DESC,
                    b.bid
         ) AS rn
  FROM e t, bench b
  WHERE NOT t.is_bench
)
SELECT vec_id,
       cosine AS max_cosine,
       bid AS nearest_bench_id,
       cosine >= {EMB_CONTAM_THRESHOLD} AS contaminated
FROM scored
WHERE rn = 1
ORDER BY vec_id
""",
)
def d24_embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.operators.similarity import (
        dot_fold,
        norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    is_bench = base_hash28(F.col("vec_id").cast("string")) % EMB_BENCH_MOD == 0
    e = emb.select(
        "vec_id", "embedding", norm().alias("nrm"), is_bench.alias("is_bench")
    )
    bench = e.filter(F.col("is_bench")).select(
        F.col("vec_id").alias("bid"),
        F.col("embedding").alias("bemb"),
        F.col("nrm").alias("bnrm"),
    )
    cosine = dot_fold(F.col("embedding"), F.col("bemb")) / (
        F.col("nrm") * F.col("bnrm")
    )
    best = F.max(F.struct(F.col("cosine"), (-F.col("bid")).alias("nb"))).alias(
        "best"
    )
    return (
        e.filter(~F.col("is_bench"))
        .crossJoin(F.broadcast(bench))
        .select("vec_id", "bid", cosine.alias("cosine"))
        .groupBy("vec_id")
        .agg(best)
        .select(
            "vec_id",
            F.col("best.cosine").alias("max_cosine"),
            (-F.col("best.nb")).alias("nearest_bench_id"),
            (F.col("best.cosine") >= EMB_CONTAM_THRESHOLD).alias("contaminated"),
        )
        .orderBy("vec_id")
    )


# --- d25: corpus-internal repeated-span removal (ExactSubstr-style) -------

SPAN_K = 8       # tokens per exact span (the paper's 50-token unit, scaled)
SPAN_TAU = 2     # corpus-wide occurrence threshold: >= TAU means "repeated"

# Shared oracle CTE chain ending in ``merged`` (doc_id, island_id, ms, me)
# — the SQL twin of ``repeated_span_islands``; d25 aggregates it, d26
# applies it, and both oracles nest the SAME text so they cannot drift.
_SQL_SPAN_ISLANDS = f"""w AS (SELECT doc_id, {_SQL_WORDS} AS words FROM documents),
pos AS (
  SELECT doc_id, i AS s,
         md5(array_to_string(words[i:i+{SPAN_K - 1}], ' ')) AS h
  FROM w, UNNEST(generate_series(1, len(words) - {SPAN_K - 1})) AS t(i)
),
hot AS (SELECT h FROM pos GROUP BY h HAVING COUNT(*) >= {SPAN_TAU}),
hits AS (
  SELECT p.doc_id, p.s, p.s + {SPAN_K - 1} AS e FROM pos p JOIN hot USING (h)
),
isl AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN prev_e IS NULL OR s > prev_e + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING)
           AS island_id
  FROM (SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_e
        FROM hits)
),
merged AS (
  SELECT doc_id, island_id, MIN(s) AS ms, MAX(e) AS me
  FROM isl GROUP BY doc_id, island_id
)"""


def positioned_span_grams(base: DataFrame) -> DataFrame:
    """Positioned SPAN_K-gram relation (doc_id, s, h) from a (doc_id,
    w: array<string>, doc_tokens) relation — the ONE definition of what
    a span gram is, shared by d25/d26 (via ``repeated_span_islands``),
    d27's maintained gram index, and d28's delta maintenance, so the
    detection input cannot drift between the batch and incremental
    paths."""
    k = SPAN_K
    gram = F.array_join(F.slice(F.col("w"), F.col("s"), k), " ")
    # sequence(1, n) counts DOWN for n < 1 — docs shorter than k emit none.
    return (
        base.filter(F.col("doc_tokens") >= k)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("doc_tokens") - (k - 1))
            ).alias("s"),
            "w",
        )
        .select("doc_id", "s", F.md5(gram).alias("h"))
    )


def span_islands_from_hits(hits: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of (doc_id, s, e) hit spans into (doc_id,
    island_id, ms, me) — doc-partitioned windows, per-partition work
    bounded by document length. The ONE definition of island merging,
    shared by ``repeated_span_islands`` and d27's incremental loop."""
    w_doc = Window.partitionBy("doc_id").orderBy("s")
    w_prev = w_doc.rowsBetween(Window.unboundedPreceding, -1)
    w_run = w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = hits.withColumn("prev_e", F.max("e").over(w_prev)).withColumn(
        "island_id",
        F.sum(
            F.when(
                F.col("prev_e").isNull() | (F.col("s") > F.col("prev_e") + 1), 1
            ).otherwise(0)
        ).over(w_run),
    )
    return isl.groupBy("doc_id", "island_id").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )


def repeated_span_islands(base: DataFrame) -> DataFrame:
    """Merged corpus-repeated-span islands per document: (doc_id, island_id,
    ms, me) from a (doc_id, w: array<string>, doc_tokens) relation.
    Shared by d25 (work-order aggregation) and d26 (excision apply) so
    detection and execution cannot drift; composes the same
    ``positioned_span_grams`` / ``span_islands_from_hits`` pieces d27's
    incremental loop detects with."""
    # ``pos`` feeds the hot-gram count AND the hit semi-join: uncached,
    # the tokenize + md5-per-position pass (the expensive part — one md5
    # per corpus token) runs twice (r13 before-plan). Materializing it
    # once is the ExactSubstr trade Lee et al. make explicitly: the
    # positioned-gram relation is corpus-token-sized, but recomputing it
    # costs a full second tokenize+hash pass at any scale. The level is
    # explicit: MEMORY_AND_DISK keeps blocks SERIALIZED in memory (about
    # half the footprint of the deserialized cache() default for a
    # string relation; measured time-neutral at sf0.1) and spills
    # overflow partitions to local disk instead of failing or evicting —
    # at 100 TB this materialization is cluster-memory-scale and WILL
    # spill; disk-backed blocks re-read at disk bandwidth, still far
    # cheaper than the second md5 pass.
    pos = positioned_span_grams(base).persist(StorageLevel.MEMORY_AND_DISK)
    hot = pos.groupBy("h").count().filter(F.col("count") >= SPAN_TAU).select("h")
    hits = pos.join(hot, "h", "left_semi").select(
        "doc_id", "s", (F.col("s") + (SPAN_K - 1)).alias("e")
    )
    return span_islands_from_hits(hits)


@register(
    "d25_repeated_span_removal",
    category="dedup",
    bench=True,
    doc="ExactSubstr-style repeated-span removal (Lee et al. 2021, "
    "'Deduplicating Training Data Makes Language Models Better'): find "
    "every 8-token span whose exact text occurs >= 2 times ANYWHERE in "
    "the corpus (including within one document), merge the per-document "
    "hits into contiguous excision islands, and emit the per-document "
    "work order (island count, first island start, tokens excised, doc "
    "length). Differs from d19, which localizes overlap against a FIXED "
    "benchmark set; here the corpus is deduplicated against itself, so "
    "the hot-span set is data-dependent. Shape: positioned k-gram "
    "relation (corpus-token-sized, row-local), ONE map-side-combinable "
    "groupBy on the gram hash to find hot grams (the heavy-hitter set — "
    "output-bounded, tiny next to the corpus at any scale), one join of "
    "positions against hot grams keyed by the hash (AQE broadcasts the "
    "hot side when it fits), then gaps-and-islands windows partitioned "
    "by doc_id — per-partition work bounded by document length. No "
    "quadratics anywhere; all arithmetic integer, bit-exact vs DuckDB.",
    oracle=f"""
WITH {_SQL_SPAN_ISLANDS},
toks AS (SELECT doc_id, len(words) AS doc_tokens FROM w)
SELECT m.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(MIN(ms) AS BIGINT) AS first_island_start,
       CAST(SUM(me - ms + 1) AS BIGINT) AS excised_tokens,
       CAST(ANY_VALUE(doc_tokens) AS BIGINT) AS doc_tokens
FROM merged m JOIN toks USING (doc_id)
GROUP BY m.doc_id
ORDER BY m.doc_id
""",
)
def d25_repeated_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scatter: one md5 per corpus token position otherwise runs single-task
    # on the unsplittable scan (0.76x measured, OPTIMIZATION_r13.md).
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    base = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), WORD_SPLIT).alias("w")
    ).withColumn("doc_tokens", F.size("w"))
    merged = repeated_span_islands(base)
    return (
        merged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.min("ms").alias("first_island_start"),
            F.sum(F.col("me") - F.col("ms") + 1).alias("excised_tokens"),
        )
        .join(base.select("doc_id", "doc_tokens"), "doc_id")
        .select(
            "doc_id", "n_islands", "first_island_start",
            "excised_tokens", "doc_tokens",
        )
        .orderBy("doc_id")
    )


@register(
    "d26_span_excision_apply",
    category="dedup",
    doc="Executes d25's excision work orders: the per-document repeated-"
    "span islands are REMOVED from the token stream and the surviving "
    "text re-joined — detection (d25) and execution share one island "
    "relation (repeated_span_islands / the same oracle CTE text), so "
    "the pass that rewrites the corpus provably cuts exactly what the "
    "report said it would. Output per affected document: kept/removed "
    "token counts and rewritten_md5 — the md5 of the POST-excision "
    "(surviving) text, so the driver hash certifies the rewritten "
    "BYTES, not just the counts. Shape: the "
    "positioned token relation anti-joins the island ranges per doc "
    "(islands are contamination-sized, never corpus-sized), surviving "
    "tokens re-assemble via one doc-keyed sort-free collect (sort_array "
    "over (p, token) structs — per-doc arrays bounded by doc length). "
    "tests/test_dedup_excision.py additionally re-runs detection on "
    "the excised corpus and asserts the residual is strictly smaller "
    "(one excision round removes every ORIGINAL hot span; new k-grams "
    "formed at seam boundaries can still repeat — the documented "
    "reason ExactSubstr dedup iterates to a fixpoint in production).",
    oracle=f"""
WITH {_SQL_SPAN_ISLANDS},
pos_t AS (
  SELECT doc_id, i AS p, words[i] AS token
  FROM w, UNNEST(generate_series(1, len(words))) AS t(i)
),
covered AS (
  SELECT DISTINCT pt.doc_id, pt.p
  FROM pos_t pt JOIN merged m
    ON m.doc_id = pt.doc_id AND pt.p BETWEEN m.ms AND m.me
),
affected AS (SELECT DISTINCT doc_id FROM merged),
kept AS (
  SELECT pt.doc_id, pt.p, pt.token
  FROM pos_t pt
  JOIN affected a ON a.doc_id = pt.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = pt.doc_id AND c.p = pt.p)
)
SELECT a.doc_id,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST((SELECT COUNT(*) FROM covered c WHERE c.doc_id = a.doc_id)
            AS BIGINT) AS n_removed,
       COALESCE(k.rewritten_md5, md5('')) AS rewritten_md5
FROM affected a
LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(token, ' ' ORDER BY p)) AS rewritten_md5
  FROM kept GROUP BY doc_id
) k ON k.doc_id = a.doc_id
ORDER BY a.doc_id
""",
)
def d26_span_excision_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scatter: same positioned-gram md5 kernel as d25 (see there).
    docs = load_table(spark, sf_dir, "documents", scatter=True)
    base = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), WORD_SPLIT).alias("w")
    ).withColumn("doc_tokens", F.size("w"))
    merged = repeated_span_islands(base).cache()  # ranges + affected set
    pos_t = base.select(
        "doc_id",
        F.posexplode("w").alias("p0", "token"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "token")
    covered = (
        pos_t.alias("pt")
        .join(
            merged.alias("m"),
            (F.col("pt.doc_id") == F.col("m.doc_id"))
            & F.col("pt.p").between(F.col("m.ms"), F.col("m.me")),
            "left_semi",
        )
        .select("doc_id", "p")
    )
    affected = merged.select("doc_id").distinct()
    kept = (
        pos_t.join(affected, "doc_id", "left_semi")
        .join(covered, ["doc_id", "p"], "left_anti")
    )
    k_agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("p"), F.col("token")))
                    ),
                    lambda s: s.getField("token"),
                ),
                " ",
            )
        ).alias("rewritten_md5"),
    )
    removed = covered.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_removed"))
    return (
        affected.join(k_agg, "doc_id", "left")
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("rewritten_md5", F.md5(F.lit(""))).alias("rewritten_md5"),
        )
        .orderBy("doc_id")
    )


@register(
    "d27_excision_fixpoint",
    category="dedup",
    doc="ExactSubstr excision iterated to FIXPOINT (Lee et al. 2021 run "
    "the substring dedup until clean): one excision round (d25 detect + "
    "d26 apply) removes every ORIGINAL corpus-repeated span, but the "
    "token re-join forms NEW k-grams at seam boundaries, and a seam "
    "gram can pair with a surviving instance anywhere in the corpus — "
    "tests/test_dedup_excision.py documents the residual. d27 closes "
    "the loop: detect -> excise -> re-detect on the REBUILT corpus, "
    "repeating (bounded rounds, loud RuntimeError on non-convergence — "
    "graph.py g06's pattern) until detection finds ZERO hot spans. "
    "Output is a corpus-level certificate: round-1 work (affected "
    "docs, excised tokens) and the round-2 residual are ORACLE-"
    "RECOMPUTED (the DuckDB SQL nests the shared island CTE twice — "
    "detection on the post-excision corpus stated independently), "
    "while the fixpoint columns use q25's bounds-audit pattern (the "
    "builder COMPUTES residual_islands_final/converged from its final "
    "detection pass; the oracle states the contract: 0 and TRUE). "
    "Scale shape: round 1 pays the ONE corpus scan, building the "
    "positioned-gram index (doc_id, s, h) and its count relation; every "
    "later round is d28's incremental maintenance COMPOSED into the "
    "loop — affected docs' old gram positions leave the index (they are "
    "already IN it: no recompute), rebuilt docs' seam grams enter, the "
    "count merge is index-keyed (h), the hot set is a FILTER on the "
    "maintained counts, and detection is the maintained index semi-"
    "joined to the hot set. Per-round cost after round 1: O(rewritten-"
    "doc tokens) delta + index-keyed merges — never a corpus re-scan "
    "(at warehouse scale the index/counts persist as manifest tables "
    "and the merges are pipeline/cow_merge.py keyed MERGEs). Islands stay "
    "doc-partitioned, re-assembly doc-bounded, localCheckpoint "
    "truncates per-round lineage; tokens strictly decrease every round "
    "so rounds are bounded (2-3 in practice).",
    oracle=f"""
WITH {_SQL_SPAN_ISLANDS},
pos_t AS (
  SELECT doc_id, i AS p, words[i] AS token
  FROM w, UNNEST(generate_series(1, len(words))) AS t(i)
),
covered AS (
  SELECT DISTINCT pt.doc_id, pt.p
  FROM pos_t pt JOIN merged m
    ON m.doc_id = pt.doc_id AND pt.p BETWEEN m.ms AND m.me
),
w2 AS (
  SELECT pt.doc_id, list(pt.token ORDER BY pt.p) AS words
  FROM pos_t pt
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = pt.doc_id AND c.p = pt.p)
  GROUP BY pt.doc_id
),
pos2 AS (
  SELECT doc_id, i AS s,
         md5(array_to_string(words[i:i+{SPAN_K - 1}], ' ')) AS h
  FROM w2, UNNEST(generate_series(1, len(words) - {SPAN_K - 1})) AS t(i)
),
hot2 AS (SELECT h FROM pos2 GROUP BY h HAVING COUNT(*) >= {SPAN_TAU}),
hits2 AS (
  SELECT p.doc_id, p.s, p.s + {SPAN_K - 1} AS e FROM pos2 p JOIN hot2 USING (h)
),
isl2 AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN prev_e IS NULL OR s > prev_e + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING)
           AS island_id
  FROM (SELECT doc_id, s, e,
               MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_e
        FROM hits2)
),
merged2 AS (
  SELECT doc_id, island_id, MIN(s) AS ms, MAX(e) AS me
  FROM isl2 GROUP BY doc_id, island_id
)
SELECT
  CAST((SELECT COUNT(DISTINCT doc_id) FROM merged) AS BIGINT)
    AS n_docs_affected_r1,
  CAST((SELECT COUNT(*) FROM covered) AS BIGINT) AS excised_tokens_r1,
  CAST((SELECT COUNT(*) FROM merged2) AS BIGINT) AS n_residual_islands_r2,
  CAST((SELECT COUNT(DISTINCT doc_id) FROM merged2) AS BIGINT)
    AS n_residual_docs_r2,
  CAST(0 AS BIGINT) AS residual_islands_final,
  TRUE AS converged
""",
)
def d27_excision_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = SPAN_K
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), WORD_SPLIT).alias("w")
    ).withColumn("doc_tokens", F.size("w"))

    max_rounds = 10
    detections: list[tuple[int, int]] = []  # (n_islands, n_docs) per pass
    excised_r1 = 0
    cur = base
    # The ONE corpus scan: round 1 builds the positioned-gram index and
    # its count relation. Rounds >= 2 never re-scan — both relations are
    # maintained by the O(rewritten-docs) delta (d28 composed in).
    pos_idx = positioned_span_grams(cur).localCheckpoint(eager=True)
    counts = (
        pos_idx.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    for rnd in range(1, max_rounds + 1):
        # Detection off the MAINTAINED relations: hot set = filter on
        # counts; hits = index semi-joined to hot (AQE broadcasts the
        # hot side when it fits); islands merged by the SAME shared
        # span_islands_from_hits d25/d26 ride — algebraically the same
        # detection, its input incrementally maintained, not recomputed.
        hot = counts.filter(F.col("c") >= SPAN_TAU).select("h")
        hits = pos_idx.join(hot, "h", "left_semi").select(
            "doc_id", "s", (F.col("s") + (k - 1)).alias("e")
        )
        merged = span_islands_from_hits(hits).cache()
        row = merged.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("d"),
            # Merged islands are disjoint per doc, so summing their
            # widths IS the covered-position count (d25's oracle uses
            # the same identity) — no second corpus-sized pos_t build
            # and semi join just to count what this KB-scale aggregate
            # already knows.
            F.coalesce(
                F.sum(F.col("me") - F.col("ms") + 1), F.lit(0)
            ).alias("cov"),
        ).collect()[0]
        detections.append((int(row["n"]), int(row["d"])))
        if row["n"] == 0:
            merged.unpersist()
            break
        if rnd == 1:
            excised_r1 = int(row["cov"])
        # Excision of the affected docs only — every relation below is
        # O(affected-doc tokens).
        affected = merged.select("doc_id").distinct()
        pos_t = (
            cur.join(affected, "doc_id", "left_semi")
            .select("doc_id", F.posexplode("w").alias("p0", "token"))
            .select("doc_id", (F.col("p0") + 1).alias("p"), "token")
        )
        covered = (
            pos_t.alias("pt")
            .join(
                merged.alias("m"),
                (F.col("pt.doc_id") == F.col("m.doc_id"))
                & F.col("pt.p").between(F.col("m.ms"), F.col("m.me")),
                "left_semi",
            )
            .select("doc_id", "p")
        )
        # Fully-excised docs drop out of `rebuilt` (no surviving tokens)
        # — correct for further detection, they contribute no grams.
        rebuilt = (
            pos_t.join(covered, ["doc_id", "p"], "left_anti")
            .groupBy("doc_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("p"), F.col("token")))
                    ),
                    lambda s: s.getField("token"),
                ).alias("w")
            )
            .withColumn("doc_tokens", F.size("w"))
            .localCheckpoint(eager=True)
        )
        # d28's delta maintenance, composed: the affected docs' old gram
        # positions are already IN the index (subtract — no recompute);
        # the rebuilt docs' grams (seams included) enter. The count
        # merge is index-keyed (h); the index update is doc-keyed.
        new_pos = positioned_span_grams(rebuilt)
        delta = (
            pos_idx.join(affected, "doc_id", "left_semi")
            .select("h", F.lit(-1).alias("d"))
            .unionByName(new_pos.select("h", F.lit(1).alias("d")))
            .groupBy("h")
            .agg(F.sum("d").alias("d"))
        )
        counts = (
            counts.join(delta, "h", "full_outer")
            .select(
                "h",
                (
                    F.coalesce(F.col("c"), F.lit(0))
                    + F.coalesce(F.col("d"), F.lit(0))
                ).alias("c"),
            )
            .filter(F.col("c") > 0)
            .localCheckpoint(eager=True)
        )
        pos_idx = (
            pos_idx.join(affected, "doc_id", "left_anti")
            .unionByName(new_pos)
            .localCheckpoint(eager=True)
        )
        cur = (
            cur.join(affected, "doc_id", "left_anti")
            .select("doc_id", "w")
            .unionByName(rebuilt.select("doc_id", "w"))
            .withColumn("doc_tokens", F.size("w"))
            .localCheckpoint(eager=True)  # truncate per-round lineage
        )
        merged.unpersist()
    else:
        raise RuntimeError(
            f"d27_excision_fixpoint: still finding repeated spans after "
            f"{max_rounds} excision rounds (last pass: "
            f"{detections[-1][0]} islands) — corpus did not converge; "
            f"raise max_rounds or inspect seam behavior"
        )

    r2 = detections[1] if len(detections) > 1 else (0, 0)
    final_islands, _ = detections[-1]
    return spark.createDataFrame(
        [(
            detections[0][1],
            excised_r1,
            r2[0],
            r2[1],
            final_islands,
            final_islands == 0,
        )],
        "n_docs_affected_r1 long, excised_tokens_r1 long, "
        "n_residual_islands_r2 long, n_residual_docs_r2 long, "
        "residual_islands_final long, converged boolean",
    )


@register(
    "d28_incremental_gram_index",
    category="dedup",
    doc="Incremental maintenance of the ExactSubstr gram-count index — "
    "the 100 TB move d27's doc promises: after an excision round "
    "rewrites some documents, do NOT re-scan the corpus to rebuild the "
    "k-gram counts; update them by the DELTA of the rewritten docs "
    "only (subtract the affected docs' old gram multiset, add their "
    "rebuilt gram multiset — seam grams enter, excised grams leave, "
    "surviving grams cancel exactly), then full-outer-merge the delta "
    "into the count relation. The delta relation is O(rewritten-doc "
    "tokens), the merge is index-keyed (h) — vs a recount's full "
    "corpus scan + full re-shuffle; at warehouse scale the counts "
    "live as a manifest table and the merge is pipeline/cow_merge.py's "
    "keyed MERGE. Certified EXACTLY: the oracle recomputes the counts "
    "from the post-excision corpus directly (the shared island CTE + "
    "kept-token rebuild), and the output includes a checksum over the "
    "ENTIRE count relation (sum of hash28(h) mod 1000003 times count "
    "— portable integer arithmetic in both engines), so a hash match "
    "proves every per-gram count, not just the aggregates.",
    oracle=f"""
WITH {_SQL_SPAN_ISLANDS},
pos_t AS (
  SELECT doc_id, i AS p, words[i] AS token
  FROM w, UNNEST(generate_series(1, len(words))) AS t(i)
),
covered AS (
  SELECT DISTINCT pt.doc_id, pt.p
  FROM pos_t pt JOIN merged m
    ON m.doc_id = pt.doc_id AND pt.p BETWEEN m.ms AND m.me
),
w2 AS (
  SELECT pt.doc_id, list(pt.token ORDER BY pt.p) AS words
  FROM pos_t pt
  WHERE NOT EXISTS (SELECT 1 FROM covered c
                    WHERE c.doc_id = pt.doc_id AND c.p = pt.p)
  GROUP BY pt.doc_id
),
pos2 AS (
  SELECT doc_id,
         md5(array_to_string(words[i:i+{SPAN_K - 1}], ' ')) AS h
  FROM w2, UNNEST(generate_series(1, len(words) - {SPAN_K - 1})) AS t(i)
),
c2 AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM pos2 GROUP BY h)
SELECT CAST(SUM(c) AS BIGINT) AS gram_instances_after,
       CAST(COUNT(*) AS BIGINT) AS distinct_grams_after,
       CAST(COUNT(CASE WHEN c >= {SPAN_TAU} THEN 1 END) AS BIGINT)
         AS hot_grams_after,
       CAST(SUM((CAST('0x' || substr(h, 1, 7) AS BIGINT) % 1000003) * c)
            AS BIGINT) AS count_checksum
FROM c2
""",
)
def d28_incremental_gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), WORD_SPLIT).alias("w")
    ).withColumn("doc_tokens", F.size("w"))

    def grams(rel: DataFrame) -> DataFrame:
        # The shared gram definition; position pruned (counts only need h).
        return positioned_span_grams(rel).select("doc_id", "h")

    merged = repeated_span_islands(base).cache()
    affected = merged.select("doc_id").distinct()
    counts1 = grams(base).groupBy("h").agg(F.count(F.lit(1)).alias("c"))

    # Delta: the affected docs' OLD grams leave, their REBUILT grams
    # enter. Everything here is O(affected-doc tokens).
    aff_base = base.join(affected, "doc_id", "left_semi")
    old_aff = grams(aff_base).select("h", F.lit(-1).alias("d"))
    pos_t = aff_base.select(
        "doc_id", F.posexplode("w").alias("p0", "token")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "token")
    covered = (
        pos_t.alias("pt")
        .join(
            merged.alias("m"),
            (F.col("pt.doc_id") == F.col("m.doc_id"))
            & F.col("pt.p").between(F.col("m.ms"), F.col("m.me")),
            "left_semi",
        )
        .select("doc_id", "p")
    )
    rebuilt = (
        pos_t.join(covered, ["doc_id", "p"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("p"), F.col("token")))
                ),
                lambda s: s.getField("token"),
            ).alias("w")
        )
        .withColumn("doc_tokens", F.size("w"))
    )
    new_aff = grams(rebuilt).select("h", F.lit(1).alias("d"))
    delta = (
        old_aff.unionByName(new_aff).groupBy("h").agg(F.sum("d").alias("d"))
    )
    counts2 = (
        counts1.join(delta, "h", "full_outer")
        .select(
            "h",
            (
                F.coalesce(F.col("c"), F.lit(0))
                + F.coalesce(F.col("d"), F.lit(0))
            ).alias("c"),
        )
        .filter(F.col("c") > 0)
    )
    chk_term = (
        F.conv(F.substring(F.col("h"), 1, 7), 16, 10).cast("long")
        % F.lit(1000003)
    ) * F.col("c")
    return counts2.agg(
        F.sum("c").cast("long").alias("gram_instances_after"),
        F.count(F.lit(1)).cast("long").alias("distinct_grams_after"),
        F.count(F.when(F.col("c") >= SPAN_TAU, 1))
        .cast("long")
        .alias("hot_grams_after"),
        F.sum(chk_term).cast("long").alias("count_checksum"),
    )
