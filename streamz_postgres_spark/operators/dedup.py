"""Deduplication operators for training-data pipelines (SURVEY §2.8):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Every operator here is EXACTLY reproducible (md5-based hash60 from
functions.text_features is bit-identical in DuckDB), so even the
"approximate" LSH pipelines are value-checked by the driver's oracle
— the approximation is in recall, not in nondeterminism.

Scale design (the reason these shapes survive 100 TB):
- candidate generation is always bucket-equi-join (band keys, simhash
  chunks, label blocks) — NEVER an unblocked cross join;
- per-doc signatures are computed with one explode + one groupBy
  (map-side combine), shuffle O(docs x signature width);
- exact verification runs only on candidate pairs, a tiny fraction
  of the n^2 pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table


from streamz_postgres_spark.functions.text_features import (
    DH_MOD,
    seeded_hash60,
    shingles,
    sql_double_hash_parts,
    sql_seeded_hash60,
    sql_shingles,
    sql_tokens,
    tokens,
)
from streamz_postgres_spark.functions.vector import sql_dot, sql_l2_norm
from streamz_postgres_spark.operators.similarity import (
    blocked_cosine_pairs,
    sql_blocked_cosine_pairs,
)
from streamz_postgres_spark.registry import register


def _docs_parallel(spark, sf_dir):
    """documents repartitioned to the session's parallelism: the
    fixture is one small parquet file => one input split, which
    would serialize the md5/explode-heavy signature pipelines onto
    a single core. One cheap shuffle of the raw docs buys full
    parallelism for the expensive stages — at 100 TB the inputs are
    already many splits and this repartition is a no-op choice, but
    compute-heavy-per-row pipelines over FEW-split inputs must
    always re-split first."""
    d = load_table(spark, sf_dir, "documents")
    return d.repartition(spark.sparkContext.defaultParallelism, "doc_id")

# MinHash configuration: 16 hashes = 4 bands x 4 rows.
_N_HASHES = 16
_N_BANDS = 4
_ROWS_PER_BAND = _N_HASHES // _N_BANDS
_MINHASH_JACCARD = 0.35

# SimHash: 60-bit fingerprint, 4 blocking chunks of 15 bits.
_SIM_BITS = 60
_SIM_CHUNKS = 4
_SIM_CHUNK_BITS = 15
# Radius = chunks-1 makes chunk blocking pigeonhole-COMPLETE: a pair
# within Hamming distance 3 differs in at most 3 of the 4 chunks, so
# it must share one — candidate generation provably misses nothing.
# A wider radius needs more chunks (k mismatches need k+1 chunks),
# not a silently lossy same-chunk scan.
_SIM_HAMMING = _SIM_CHUNKS - 1


@register(
    "q_dedup_exact",
    oracle="""
SELECT canonical, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dupes
FROM (
  SELECT doc_id,
         array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
           AS canonical
  FROM documents
) t
GROUP BY canonical
""",
    tags=("dedup",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a canonical form (sorted distinct tokens):
    keeps the smallest doc_id per group — deterministic, unlike
    dropDuplicates' arbitrary row choice. One hash shuffle on the
    canonical key; at 100 TB group on hash60(canonical) instead to
    shuffle 8-byte keys instead of full texts."""
    d = load_table(spark, sf_dir, "documents")
    canonical = F.array_join(F.array_sort(F.array_distinct(tokens("text"))), " ")
    return (
        d.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def _doc_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs): per-doc DISTINCT shingle hashes as an array of
    29-hex-char md5 prefixes — ROW-LOCAL (r13 optimization, guide
    §2.4: remove shuffles outright). The old shape exploded every
    shingle occurrence, then paid one groupBy(doc_id) shuffle for the
    signature and a full ``distinct()`` shuffle for the verification
    set — stage profiling at sf0.1 put that distinct at 1.2-2.7 s of
    the 2.1 s q_dedup_minhash wall. ``array_distinct`` inside the row
    computes the same set with zero exchanges.

    Element representation: substr(md5, 1, 29) — the concatenation of
    the h1 (15 hex) and h2 (14 hex) halves of double_hash_parts, so
    distinctness/equality on the string is BIJECTIVE with the old
    (h1, h2) pair (conv is injective on fixed-width hex): set
    semantics identical to the old shset.distinct(). Strings (not
    (h1, h2) structs) because array_distinct/array_intersect take the
    OpenHashSet fast path only for types with proper equals — the
    struct form fell back to the O(n*m) nested loop and measured 159 s
    of CPU in the verify stage where the string form takes under a
    second. One md5 per shingle occurrence, exactly as before."""
    d = _docs_parallel(spark, sf_dir)
    return d.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                shingles(tokens("text")),
                lambda s: F.substring(F.md5(s), 1, 29),
            )
        ).alias("hs"),
    )


def _doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hs, m0..m15): the per-doc hash set AND signature in
    one map-only pass — no explode, no shuffle.

    m_j = min over hs of (h1 + j*h2) mod P (Broder double hashing —
    16 minhash functions for ONE md5 per shingle), where h1/h2 are
    conv()'d back out of the 29-char element. min over the distinct
    set equals min over the occurrence multiset, so values are
    identical to the old groupBy(doc_id) aggregation; a shingle-less
    doc has an empty ``hs`` and array_min yields NULL, preserving the
    all-NULL signature convention for short docs. The int-pair array
    is bound ONCE via the single-element-array-transform `let` (the
    r11 rule: a free-variable expression inside a lambda is
    re-evaluated per reference) and the 16 mins come back as one
    struct, so the 2 conv()s per element run once, not 16 times."""
    harr = F.transform(
        F.col("hs"),
        lambda c: F.struct(
            F.conv(F.substring(c, 1, 15), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring(c, 16, 14), 16, 10).cast("bigint").alias("h2"),
        ),
    )
    mins = F.element_at(
        F.transform(
            F.array(harr),
            lambda a: F.struct(
                *[
                    F.array_min(
                        F.transform(
                            a,
                            lambda x: (x["h1"] + F.lit(j) * x["h2"])
                            % F.lit(DH_MOD),
                        )
                    ).alias(f"m{j}")
                    for j in range(_N_HASHES)
                ]
            ),
        ),
        1,
    )
    per_row = (
        _doc_hashes(spark, sf_dir)
        .select("doc_id", "hs", mins.alias("_m"))
        .select(
            "doc_id",
            "hs",
            *[F.col("_m")[f"m{j}"].alias(f"m{j}") for j in range(_N_HASHES)],
        )
    )
    # merge duplicate doc_id rows (the v7 hostile class: verbatim
    # PK-duplicated corpora). The oracle's GROUP BY doc_id unions the
    # duplicate rows' shingle sets and mins across them, so the
    # row-local form must too — the r13 hostile sweep caught the
    # per-row variant emitting extra candidate rows. min of per-row
    # mins == min over the union; array_distinct(flatten(...)) == the
    # old shset.distinct() per doc. This groupBy adds NO exchange:
    # _docs_parallel already hash-repartitions by doc_id at the same
    # partition count, and Catalyst reuses that partitioning
    # (guide §2.4 — two operations keyed the same way share one
    # exchange; asserted by test_scale_guards' plan checks).
    return per_row.groupBy("doc_id").agg(
        F.array_distinct(F.flatten(F.collect_list("hs"))).alias("hs"),
        *[F.min(f"m{j}").alias(f"m{j}") for j in range(_N_HASHES)],
    )


def _sql_minhash_signature() -> str:
    h1, h2 = sql_double_hash_parts("shingle")
    mins = ",\n    ".join(
        f"MIN((h1 + {j} * h2) % {DH_MOD}) AS m{j}" for j in range(_N_HASHES)
    )
    return f"""
  SELECT doc_id, {mins}
  FROM (
    SELECT doc_id, {h1} AS h1, {h2} AS h2
    FROM (
      SELECT doc_id, unnest({sql_shingles(sql_tokens('text'))}) AS shingle
      FROM documents
    ) raw
  ) sh
  GROUP BY doc_id
"""


def _sql_band_keys() -> str:
    # docs too short for any shingle have all-NULL signatures; they
    # must not band (their keys would collapse to one degenerate
    # bucket and cross-join every short doc with every other)
    selects = []
    for b in range(_N_BANDS):
        cols = " || ',' || ".join(
            f"m{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        )
        selects.append(
            f"SELECT doc_id, '{b}:' || {cols} AS band_key FROM sig "
            f"WHERE m0 IS NOT NULL"
        )
    return "\n  UNION ALL\n  ".join(selects)


def _sql_overlap_tail(cand_src: str) -> str:
    """The exact-verification CTE tail (shset / sizes / inter) over
    an arbitrary candidate-pair source selecting (doc_a, doc_b) —
    shared by the candidate-overlap chain and q_lsh_band_sweep so
    the shingle-intersection join exists once in SQL."""
    return f"""shset AS (
  SELECT DISTINCT doc_id, h1, h2 FROM (
    SELECT doc_id, {sql_double_hash_parts('shingle')[0]} AS h1,
           {sql_double_hash_parts('shingle')[1]} AS h2
    FROM (
      SELECT doc_id, unnest({sql_shingles(sql_tokens('text'))}) AS shingle
      FROM documents
    ) raw
  ) hashed
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shset GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM {cand_src} c
  JOIN shset sa ON sa.doc_id = c.doc_a
  JOIN shset sb ON sb.doc_id = c.doc_b
              AND sb.h1 = sa.h1 AND sb.h2 = sa.h2
  GROUP BY c.doc_a, c.doc_b
)"""


#: shared CTE chain for the LSH candidate pipeline: bands ->
#: candidates -> exact shingle-set overlap + per-doc set sizes
_SQL_CANDIDATE_OVERLAP = f"""
WITH sig AS ({_sql_minhash_signature()}),
bands AS (
  {_sql_band_keys()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
{_sql_overlap_tail('cand')}
"""

_MINHASH_ORACLE = f"""
{_SQL_CANDIDATE_OVERLAP}
SELECT i.doc_a, i.doc_b, i.n_common,
       CAST(i.n_common AS DOUBLE)
         / (za.n_sh + zb.n_sh - i.n_common) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_common)
      >= {_MINHASH_JACCARD}
"""


def _band_stack(sig: DataFrame) -> DataFrame:
    """Unpivot 4 band keys per doc with one stack() — a single pass
    over the signature instead of a 4-way union of re-derivations.
    Short docs (all-NULL signature, no shingles) are excluded from
    banding: their keys would collapse into one degenerate bucket
    and cross-join all short docs pairwise."""
    stack_args = []
    for b in range(_N_BANDS):
        key_cols = ", ".join(
            f"CAST(m{b * _ROWS_PER_BAND + r} AS STRING)"
            for r in range(_ROWS_PER_BAND)
        )
        stack_args.append(f"concat_ws(',', '{b}:', {key_cols})")
    return sig.filter(F.col("m0").isNotNull()).select(
        "doc_id",
        F.expr(
            f"stack({_N_BANDS}, {', '.join(stack_args)})"
        ).alias("band_key"),
    )


def _banded_candidate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared MinHash+LSH candidate pipeline: signature -> band keys
    -> band-bucket equi-join -> exact shingle-set overlap, returning
    ``(doc_a, doc_b, n_common, n_a, n_b)`` for every banded candidate
    pair with at least one shared shingle. q_dedup_minhash derives
    Jaccard from it, q_minhash_containment derives containment — one
    pipeline, two read-outs.

    r13 shape (guide §2.3/§2.4): signatures AND the verification
    hash-sets are row-local arrays (see _doc_hashes), so the only
    exchanges left are the band self-join and the two joins that
    attach each candidate doc's hash array; the n_common/n_a/n_b
    read-out is a row-local array_intersect/size instead of the old
    exploded three-way join + two groupBys. Values are unchanged:
    |A∩B| over distinct (h1, h2) sets either way, and the old inner
    hash-match join dropped zero-overlap pairs, mirrored here by the
    n_common >= 1 filter.

    persist: the sig frame (hash arrays + signature) feeds the band
    self-join and both attach joins; Spark does not share plan
    subtrees across consumers, so without the pin the md5 pass would
    run once per consumer. Lifecycle via the thread-scoped
    persist_scoped helper: the returned DataFrame stays lazy, so this
    call cannot unpersist its own frames — the SAME thread's next
    invocation (or session end) does (see
    streamz_postgres_spark.lifecycle)."""
    from streamz_postgres_spark.lifecycle import persist_scoped

    sig = _doc_signatures(spark, sf_dir)
    persist_scoped("q_dedup_minhash", sig)

    bands = _band_stack(sig)
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("band_key").alias("bk2")
    )
    cand = (
        bands.join(
            b2,
            (F.col("band_key") == F.col("bk2"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    return _overlap_from_arrays(cand, sig).filter(F.col("n_common") >= 1)


def _overlap_from_arrays(cand: DataFrame, sig: DataFrame) -> DataFrame:
    """Exact shingle-set verification for candidate pairs: given
    ``cand`` (doc_a, doc_b) and the per-doc hash arrays (``sig``
    carrying ``hs``), attach both docs' arrays and intersect
    row-locally — ``(doc_a, doc_b, n_common, n_a, n_b)``. Includes
    zero-overlap pairs (n_common = 0); callers mirroring the old
    inner-join semantics filter n_common >= 1. Mirrored in SQL by
    _sql_overlap_tail."""
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("hs_a", "hs_b"))
            .cast("bigint")
            .alias("n_common"),
            F.size("hs_a").cast("bigint").alias("n_a"),
            F.size("hs_b").cast("bigint").alias("n_b"),
        )
    )


@register(
    "q_dedup_minhash",
    oracle=_MINHASH_ORACLE,
    tags=("dedup", "lsh"),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate detection, fully deterministic:

    shingle(3-gram) -> 16 seeded min-hashes -> 4 band keys ->
    band-bucket equi-join for candidates -> exact shingle-Jaccard
    verification on candidates only.

    The band join is the scale story: docs are compared only when a
    band collides, so the join is O(collisions) not O(n^2); band
    keys hash-shuffle evenly. Verification re-joins shingle sets for
    candidate pairs only (shared pipeline:
    :func:`_banded_candidate_overlap`)."""
    ov = _banded_candidate_overlap(spark, sf_dir)
    jaccard = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return ov.select(
        "doc_a", "doc_b", "n_common", jaccard.alias("jaccard")
    ).filter(F.col("jaccard") >= _MINHASH_JACCARD)


_CONTAINMENT_MIN = 0.10  # report any pair with a tenth of the smaller set shared
_CONTAINMENT_CROP = 0.80  # crop verdict: near-total inclusion


@register(
    "q_minhash_containment",
    oracle=f"""
{_SQL_CANDIDATE_OVERLAP}
SELECT * FROM (
  SELECT i.doc_a, i.doc_b, i.n_common,
         CAST(i.n_common AS DOUBLE) / least(za.n_sh, zb.n_sh)
           AS containment,
         CAST(i.n_common AS DOUBLE)
           / (za.n_sh + zb.n_sh - i.n_common) AS jaccard,
         CASE
           WHEN CAST(i.n_common AS DOUBLE)
                / (za.n_sh + zb.n_sh - i.n_common) >= {_MINHASH_JACCARD}
             THEN 'dup'
           WHEN CAST(i.n_common AS DOUBLE) / least(za.n_sh, zb.n_sh)
                >= {_CONTAINMENT_CROP}
             THEN 'crop'
           ELSE 'partial'
         END AS relation
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
) t
WHERE containment >= {_CONTAINMENT_MIN}
""",
    tags=("dedup", "lsh"),
)
def q_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crop/subset audit over the LSH candidates: containment
    C = |A∩B| / min(|A|,|B|) next to Jaccard for every banded pair.
    High containment with sub-threshold Jaccard means one doc is a
    crop/superset of the other (prefix truncation, quote inclusion,
    page-with-boilerplate) — the duplicate class symmetric Jaccard
    dedup systematically misses; the ``relation`` verdict separates
    'dup' (Jaccard would catch it) from 'crop' (it would not).

    Shares :func:`_banded_candidate_overlap` with q_dedup_minhash —
    zero extra shuffles when run after it. Recall caveat, documented:
    band candidates are Jaccard-biased, so an extreme crop (tiny A in
    huge B) may never band-collide; the production containment index
    adds size-stratified prefixes on top of this same read-out."""
    ov = _banded_candidate_overlap(spark, sf_dir)
    containment = F.col("n_common").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    )
    jaccard = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    relation = (
        F.when(jaccard >= _MINHASH_JACCARD, "dup")
        .when(containment >= _CONTAINMENT_CROP, "crop")
        .otherwise("partial")
    )
    return ov.select(
        "doc_a",
        "doc_b",
        "n_common",
        containment.alias("containment"),
        jaccard.alias("jaccard"),
        relation.alias("relation"),
    ).filter(F.col("containment") >= _CONTAINMENT_MIN)


def _sql_simhash() -> str:
    bit_sums = ",\n    ".join(
        f"SUM(cnt * (2 * ((h >> {j}) & 1) - 1)) AS s{j}"
        for j in range(_SIM_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN 1 ELSE 0 END) * (CAST(1 AS BIGINT) << {j})"
        for j in range(_SIM_BITS)
    )
    return f"""
  SELECT doc_id, {fp} AS simhash FROM (
    SELECT doc_id, {bit_sums}
    FROM (
      SELECT doc_id, token, COUNT(*) AS cnt, {sql_seeded_hash60('token', 0)} AS h
      FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS token FROM documents) t
      GROUP BY doc_id, token
    ) th
    GROUP BY doc_id
  ) bits
"""


@register(
    "q_dedup_simhash",
    oracle=f"""
WITH sim AS ({_sql_simhash()}),
chunks AS (
  SELECT doc_id, simhash, c,
         (simhash >> (c * {_SIM_CHUNK_BITS})) & {(1 << _SIM_CHUNK_BITS) - 1}
           AS chunk_val
  FROM sim, range(0, {_SIM_CHUNKS}) r(c)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sim_a, b.simhash AS sim_b
  FROM chunks a JOIN chunks b
    ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {_SIM_HAMMING}
""",
    tags=("dedup", "lsh"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit weighted-token fingerprint; blocking
    on 15-bit chunks (a pair within Hamming distance k must share at
    least one of 4 chunks when k < 4... pigeonhole gives candidates
    for k <= 3 exactly; wider k trades recall — documented, standard
    Manku-style chunking), then exact Hamming verification."""
    d = _docs_parallel(spark, sf_dir)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    th = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    th = th.withColumn("h", seeded_hash60(F.col("token"), 0))

    bit_sums = [
        F.sum(
            F.col("cnt")
            * (F.lit(2) * F.shiftright("h", j).bitwiseAND(F.lit(1)) - F.lit(1))
        ).alias(f"s{j}")
        for j in range(_SIM_BITS)
    ]
    bits = th.groupBy("doc_id").agg(*bit_sums)

    fp = None
    for j in range(_SIM_BITS):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(1)).otherwise(F.lit(0)).cast(
            "bigint"
        ) * F.lit(1 << j).cast("bigint")
        fp = term if fp is None else fp + term
    sim = bits.select("doc_id", fp.alias("simhash"))

    chunk_ids = spark.range(_SIM_CHUNKS).withColumnRenamed("id", "c")
    chunks = sim.crossJoin(F.broadcast(chunk_ids)).select(
        "doc_id",
        "simhash",
        "c",
        F.expr(
            f"shiftright(simhash, CAST(c * {_SIM_CHUNK_BITS} AS INT))"
        )
        .bitwiseAND(F.lit((1 << _SIM_CHUNK_BITS) - 1))
        .alias("chunk_val"),
    )
    right = chunks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
        F.col("c").alias("c2"),
        F.col("chunk_val").alias("cv2"),
    )
    cand = (
        chunks.join(
            right,
            (F.col("c") == F.col("c2"))
            & (F.col("chunk_val") == F.col("cv2"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(
            F.col("doc_id").alias("doc_a"),
            "doc_b",
            F.col("simhash").alias("sim_a"),
            "sim_b",
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= _SIM_HAMMING)


@register(
    "q_dedup_ngram",
    oracle="""
WITH ts AS (
  SELECT DISTINCT doc_id, lang, token FROM (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
    FROM documents
  ) raw
),
sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM ts GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM ts a JOIN ts b
    ON a.token = b.token AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, i.n_common,
       CAST(i.n_common AS DOUBLE) / (za.n_tok + zb.n_tok - i.n_common)
         AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / (za.n_tok + zb.n_tok - i.n_common) >= 0.9
""",
    tags=("dedup",),
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set (1-gram) Jaccard near-dup with PPJoin-style
    prefix filtering (Xiao et al., WWW'08 — public algorithm): only
    each doc's ``n - ceil(t*n) + 1`` globally-RAREST tokens enter the
    inverted-index candidate join, then candidates are exact-verified
    with ``array_intersect`` on the full token sets. Two pairs with
    Jaccard >= t MUST share a token inside both prefixes (pigeonhole
    on the shared global token order), so recall is provably lossless
    — and a df=10^6 stopword effectively never lands in a 10%-rarest
    prefix, which removes the O(sum df^2) hotspot a naive
    inverted-index join has at 100 TB. Lang stays in the block key."""
    return _prefix_filtered_jaccard(_docs_parallel(spark, sf_dir), t=0.9)


def _prefix_filtered_jaccard(d: DataFrame, t: float) -> DataFrame:
    """Shared body of q_dedup_ngram, factored so tests can run it on
    synthetic token data: exact Jaccard >= t pairs via prefix-filter
    candidates + array_intersect verification."""
    # per-doc array_distinct before the explode (r13, guide §2.3 —
    # same rewrite as q_text_langid): repeats collapse row-locally,
    # so the cross-row distinct (still required for PK-duplicated
    # corpora to match the oracle's SELECT DISTINCT) shuffles the
    # per-doc vocabulary, not every token occurrence
    ts = d.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(tokens("text"))).alias("token"),
    ).distinct()
    # global (per-lang) document frequency orders tokens rare-first;
    # token breaks ties so the order is total and identical per doc
    df_tok = ts.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("df"))
    sizes = ts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    prefix_len = (F.col("n_tok") - F.ceil(F.lit(t) * F.col("n_tok")) + 1).cast(
        "int"
    )
    ranked = (
        ts.join(df_tok, ["lang", "token"])
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "token")
            ),
        )
        .join(sizes, "doc_id")
        .filter(F.col("rnk") <= prefix_len)
        .select("doc_id", "lang", "token")
    )
    cand = (
        ranked.join(
            ranked.select(
                F.col("doc_id").alias("doc_b"),
                F.col("lang").alias("lang_b"),
                F.col("token").alias("token_b"),
            ),
            (F.col("token") == F.col("token_b"))
            & (F.col("lang") == F.col("lang_b"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    # exact verification on full token sets — candidate choice can
    # only affect recall (covered by the prefix guarantee), never
    # precision or the reported values
    tok_sets = ts.groupBy("doc_id").agg(
        F.collect_set("token").alias("toks"),
        F.count(F.lit(1)).alias("n_tok"),
    )
    a = tok_sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("n_tok").alias("n_a"),
    )
    b = tok_sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("n_tok").alias("n_b"),
    )
    n_common = F.size(F.array_intersect("toks_a", "toks_b"))
    jaccard = n_common.cast("double") / (
        F.col("n_a") + F.col("n_b") - n_common
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            jaccard.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


#: embedding-cosine near-dup threshold (tighter than q_sim_pairs'
#: similarity-search 0.35 — dedup wants high-precision pairs)
_EMBED_DUP_COSINE = 0.40


@register(
    "q_dedup_embed",
    oracle=sql_blocked_cosine_pairs(_EMBED_DUP_COSINE),
    tags=("dedup", "similarity"),
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs >= 0.40, blocked by label
    (the ANN bucket standing in for an IVF/LSH partition at scale).
    Same pipeline as q_sim_pairs at a tighter threshold — one shared
    implementation (similarity.blocked_cosine_pairs), so a fix there
    can't silently miss a hand-kept copy here."""
    return blocked_cosine_pairs(spark, sf_dir, _EMBED_DUP_COSINE)


# -- connected components over near-dup pairs -------------------------------

_CC_MAX_ITERS = 20


def _sql_cc_closure(pairs_sql: str, nodes_from: str, node_id: str) -> str:
    """The transitive-closure CTE pair every cluster oracle shares:
    ``edges`` (undirected doubling of ``pairs_sql``, which must
    select columns ``(u, w)``) and ``reach`` (recursive closure
    seeded with every node of ``nodes_from``). Callers append their
    own ``SELECT u, MIN(r) ... GROUP BY u`` read-out. One string,
    four oracles (embedding / embedding-stats / substring / minhash
    clusters) — a fix to the closure propagates everywhere."""
    return f"""edges AS (
  SELECT u, w FROM ({pairs_sql}) pr
  UNION
  SELECT w AS u, u AS w FROM ({pairs_sql}) pr
),
reach AS (
  SELECT {node_id} AS u, {node_id} AS r FROM {nodes_from}
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.w = reach.u
)"""


def _doc_components(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """documents-keyed connected components: ``pairs`` of doc_ids as
    ``(u, w)`` -> ``(doc_id, cluster_id)``; singletons keep their
    own id. The shared Spark wrapper of the substring/minhash
    cluster keys (connected_components speaks vec_id internally).
    The id universe is DISTINCT on doc_id: the label table is keyed
    by id, so a PK-violating corpus (verbatim re-crawled rows, the
    v7 hostile class) still yields one label row per document id —
    connected_components' nodes contract is a SET. The distinct is
    an id-only shuffle the CC loop's first join needs anyway."""
    nodes = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("vec_id"))
        .distinct()
    )
    return connected_components(nodes, pairs).select(
        F.col("vec_id").alias("doc_id"), "cluster_id"
    )


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_iters: int = _CC_MAX_ITERS
) -> DataFrame:
    """Min-label propagation connected components.

    ``nodes``: one column ``vec_id``; ``pairs``: undirected edges as
    ``(u, w)``. Returns (vec_id, cluster_id) where cluster_id is the
    minimum node id reachable — the canonical representative.

    Iterative driver loop (the standard Spark shape for fixpoint
    graph algorithms, cf. GraphX Pregel): each round is one
    hash-partitioned join + min-agg; convergence is detected by the
    strictly-decreasing label sum (labels only ever decrease, so an
    unchanged sum IS the fixpoint — one cheap agg instead of a
    change-count join). Each round combines the neighbor minimum
    with POINTER DOUBLING — every node also adopts its current
    root's label (one extra equi-join on the label), so label
    distance to the component minimum roughly halves per round:
    O(log diameter) rounds instead of O(diameter), the same
    round-collapse idea as the large-star/small-star method
    (public algorithm, Kiveris et al.) and as path halving in
    union-find.

    Each round's labels are ``localCheckpoint``ed, not just
    persisted: persist caches DATA but Catalyst still re-analyzes
    the full join lineage every round, which compounds until
    planning dominates (measured: a 9-round chain took minutes with
    persist, seconds with checkpoint). Lineage truncation is load-
    bearing for every iterative DataFrame algorithm.

    The fixpoint iterates over EDGE-INCIDENT nodes only (r10, the r9
    verdict's wall-clock-tail prescription): a node with no edge can
    never change its label (it keeps its own id by definition), yet
    the old loop joined and checkpointed the FULL O(nodes) label
    table every round — on a deduplicated corpus the duplicate-pair
    graph touches a few percent of documents, so every round paid
    10-30x the necessary join/checkpoint volume. Singletons are
    re-attached after convergence with ONE left join against the
    (small, usually broadcast) converged labels — output contract
    unchanged: every node in ``nodes`` gets a row, singletons keep
    their own id. Measured at the x30 replica this took
    q_dedup_substring_clusters from 147 s to the per-stage floor of
    the pair scan (SCALE.md round-10 row).

    MATERIALIZATION CONTRACT (changed in r10, flagged by the r10
    advisor): the returned frame is LAZY — the converged labels are
    checkpointed (lineage-truncated), but the singleton re-attach
    joins them against the caller's ``nodes`` frame, so each action
    on the result re-evaluates the ``nodes`` lineage (pre-r10 the
    whole result was checkpointed). Single-action consumers — every
    registry key — pay nothing extra; a caller that fires multiple
    actions on the result should persist()/localCheckpoint() it (or
    pass an already-persisted ``nodes``). Not pinned here because
    the common case is one action and an unconditional checkpoint
    would re-materialize the full O(nodes) table every invocation —
    the exact cost the incident-only fixpoint removed."""
    from streamz_postgres_spark.lifecycle import persist_scoped, track_scoped

    # undirected doubling via a row-local explode instead of
    # union(pairs, pairs.swapped) (r13, guide §2.4): the union form
    # evaluated the ``pairs`` lineage — for the cluster keys, the
    # entire candidate+verification pipeline — once per branch even
    # under the persist pin, because the two branches are separate
    # subtrees whose broadcast-side subplans do not share in-flight
    # cache fills. One subtree, same edge multiset.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("u"), F.col("w").alias("w")),
                F.struct(F.col("w").alias("u"), F.col("u").alias("w")),
            )
        ).alias("e")
    ).select("e.u", "e.w")
    # thread-scoped lifecycle: releases the previous invocation's
    # edges AND parked labels (see streamz_postgres_spark.lifecycle)
    persist_scoped("connected_components", edges)

    # lazy checkpoint + agg-as-materializer: the convergence sum and
    # the checkpoint write share ONE job per round (eager=True plus a
    # separate agg ran two). The sum is the whole driver roundtrip —
    # O(1) rows — and labels only ever decrease, so an unchanged sum
    # IS the fixpoint.
    # seed = edge-incident nodes INTERSECTED with ``nodes`` (one
    # semi-join against the incident set, which is small): an edge
    # endpoint absent from ``nodes`` must stay inert — exactly the
    # old all-nodes-seeded behavior, where such edges dropped at the
    # labels join — not become a phantom label that bridges
    # components or mints cluster ids outside ``nodes`` (r10 review
    # find; latent today since every call site derives pairs from
    # the nodes table, but the contract doesn't require it)
    labels = (
        edges.select("u")
        .distinct()
        .join(
            nodes.select(F.col("vec_id").alias("u")), "u", "left_semi"
        )
        .select(
            F.col("u").alias("vec_id"),
            F.col("u").alias("cluster_id"),
        )
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    # r13 note (measured, then deliberately left alone): at sf0.1 the
    # loop converges in ~8 rounds of ~0.25 s each, nearly all
    # fixed scheduling cost on a KB-sized label table. Two candidate
    # fixes were A/B'd and REJECTED: a second root chase per round
    # (fewer rounds but the extra join made rounds dearer — net
    # slower) and size-gated broadcasts of the label-derived join
    # sides (three driver broadcast round-trips per round cost more
    # than the tiny shuffles they replaced — net ~1.7x slower). The
    # per-round floor here is job latency, which amortizes away at
    # real scale where each round moves real data.
    for _ in range(max_iters):
        prev_labels = labels
        nb = (
            edges.join(labels, edges["w"] == labels["vec_id"])
            .groupBy("u")
            .agg(F.min("cluster_id").alias("nb_min"))
        )
        root = labels.select(
            F.col("vec_id").alias("rid"), F.col("cluster_id").alias("root_lbl")
        )
        new_labels = (
            labels.join(nb, labels["vec_id"] == nb["u"], "left")
            .join(root, F.col("cluster_id") == F.col("rid"), "left")
            .select(
                labels["vec_id"],
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nb_min"), F.col("cluster_id")),
                    F.coalesce(F.col("root_lbl"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=False)
        )
        new_sum = new_labels.agg(F.sum("cluster_id")).collect()[0][0]
        labels = new_labels
        # new_labels is eagerly materialized from its own checkpoint
        # blocks, so the previous round's blocks are dead weight —
        # release them now instead of accumulating one checkpointed
        # copy of the label table per round in executor storage
        # (verify/bench loops invoke this query repeatedly).
        prev_labels.unpersist()
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    # the final labels frame is returned lazily: its blocks must
    # outlive this call, so park it (unpersisted-on-next-invocation)
    # in the same thread-scoped slot as edges
    track_scoped("connected_components", labels, fresh=False)
    # singleton re-attach: nodes outside the edge set keep their own
    # id. The converged label table is edge-incident-sized (small);
    # on a mostly-unique corpus Spark broadcasts it.
    lbl = labels.select(
        F.col("vec_id").alias("__lv"), F.col("cluster_id").alias("__lc")
    )
    return nodes.join(
        lbl, nodes["vec_id"] == F.col("__lv"), "left"
    ).select(
        nodes["vec_id"],
        F.coalesce(F.col("__lc"), nodes["vec_id"]).alias("cluster_id"),
    )


@register(
    "q_dedup_clusters",
    oracle=f"""
WITH RECURSIVE v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         {sql_l2_norm('embedding')} AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS w
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {sql_dot('a.e', 'b.e')} / (a.nrm * b.nrm) >= {_EMBED_DUP_COSINE}
),
{_sql_cc_closure("SELECT u, w FROM pairs", "v", "vec_id")}
SELECT u AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY u
""",
    tags=("dedup", "graph"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS, not just pairs: connected components
    over the embedding near-dup graph, labeling every vector with the
    min vec_id of its component (the canonical doc a dedup pipeline
    keeps). Pairs come from the shared blocked_cosine_pairs impl at
    the q_dedup_embed threshold; singletons keep their own id. The
    oracle is a recursive CTE computing the same transitive closure
    — the iterative Spark loop is value-checked, not just row-checked."""
    pairs = blocked_cosine_pairs(spark, sf_dir, _EMBED_DUP_COSINE).select(
        F.col("vec_a").alias("u"), F.col("vec_b").alias("w")
    )
    # distinct: the nodes contract is a SET of ids (same PK-violation
    # guard as _doc_components)
    nodes = (
        load_table(spark, sf_dir, "embeddings").select("vec_id").distinct()
    )
    return connected_components(nodes, pairs)


def _sql_est_jaccard() -> str:
    terms = " + ".join(
        f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END"
        for j in range(_N_HASHES)
    )
    return f"({terms}) / {float(_N_HASHES)}"


@register(
    "q_minhash_estimate",
    oracle=f"""
WITH sig AS ({_sql_minhash_signature()}),
bands AS (
  {_sql_band_keys()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b, {_sql_est_jaccard()} AS est_jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
),
shset AS (
  SELECT DISTINCT doc_id, h1, h2 FROM (
    SELECT doc_id, {sql_double_hash_parts('shingle')[0]} AS h1,
           {sql_double_hash_parts('shingle')[1]} AS h2
    FROM (
      SELECT doc_id, unnest({sql_shingles(sql_tokens('text'))}) AS shingle
      FROM documents
    ) raw
  ) hashed
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shset GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shset sa ON sa.doc_id = c.doc_a
  JOIN shset sb ON sb.doc_id = c.doc_b
              AND sb.h1 = sa.h1 AND sb.h2 = sa.h2
  GROUP BY c.doc_a, c.doc_b
)
SELECT e.doc_a, e.doc_b, e.est_jaccard,
       CAST(COALESCE(i.n_common, 0) AS DOUBLE)
         / (za.n_sh + zb.n_sh - COALESCE(i.n_common, 0)) AS jaccard
FROM est e
LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes za ON za.doc_id = e.doc_a
JOIN sizes zb ON zb.doc_id = e.doc_b
""",
    tags=("dedup", "lsh"),
)
def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every banded candidate pair, the
    MinHash ESTIMATE (fraction of the 16 signature slots that agree)
    next to the EXACT shingle Jaccard — the query you run before
    trusting a sketch threshold at 100 TB, where exact verification
    of every pair is unaffordable but a sampled audit is not. Shares
    the signature/shingle machinery with q_dedup_minhash verbatim."""
    from streamz_postgres_spark.lifecycle import persist_scoped

    sig = _doc_signatures(spark, sf_dir)
    persist_scoped("q_minhash_estimate", sig)

    bands = _band_stack(sig)
    cand = (
        bands.join(
            bands.select(
                F.col("doc_id").alias("doc_b"), F.col("band_key").alias("bk2")
            ),
            (F.col("band_key") == F.col("bk2"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )

    # one attach join per side carries BOTH the signature slots (for
    # the estimate) and the hash array (for the exact Jaccard) — the
    # old shape joined four times (sig x2 + exploded shset x2) and
    # paid a groupBy for n_common and another for sizes; estimate
    # agreement and exact intersection are row-local here. The old
    # left-join-inter + COALESCE(n_common, 0) semantics (every banded
    # pair reported, zero-overlap included) fall out directly because
    # array_intersect of disjoint sets is just empty.
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        *[F.col(f"m{j}").alias(f"a{j}") for j in range(_N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(_N_HASHES)],
    )
    agree = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(_N_HASHES)
    )
    n_common = F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint")
    jaccard = n_common.cast("double") / (
        F.size("hs_a").cast("bigint") + F.size("hs_b").cast("bigint") - n_common
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (agree / float(_N_HASHES)).alias("est_jaccard"),
            jaccard.alias("jaccard"),
        )
    )



@register(
    "q_dedup_cluster_stats",
    oracle=f"""
WITH RECURSIVE v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         {sql_l2_norm('embedding')} AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS w
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {sql_dot('a.e', 'b.e')} / (a.nrm * b.nrm) >= {_EMBED_DUP_COSINE}
),
{_sql_cc_closure("SELECT u, w FROM pairs", "v", "vec_id")},
clusters AS (
  SELECT u AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY u
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS sz FROM clusters GROUP BY cluster_id
)
SELECT sz AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_removed
FROM sizes
GROUP BY sz
""",
    tags=("dedup", "graph", "report"),
)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup REPORT every pipeline run ships: cluster-size
    histogram over the near-dup components — how many singletons,
    how many k-way duplicate groups, and the doc count each bucket
    removes (keep one canonical doc per cluster). Two cheap aggs on
    top of connected_components' labels; n_removed summed over rows
    is the corpus-level dedup ratio numerator. The histogram is
    tiny (≤ distinct sizes rows) so the final agg is effectively
    free at any scale."""
    pairs = blocked_cosine_pairs(spark, sf_dir, _EMBED_DUP_COSINE).select(
        F.col("vec_a").alias("u"), F.col("vec_b").alias("w")
    )
    # distinct: nodes contract is a SET of ids (PK-violation guard)
    nodes = (
        load_table(spark, sf_dir, "embeddings").select("vec_id").distinct()
    )
    labels = connected_components(nodes, pairs)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        (F.sum("sz") - F.count(F.lit(1))).cast("long").alias("n_removed"),
    )


# -- URL canonicalization dedup ---------------------------------------------

#: raw-URL synthesis from the fixture's (source, doc_id) — the
#: documents table carries no real URLs, so the messy form is built
#: deterministically: odd doc_ids get scheme/case/tracking-param/
#: trailing-slash noise, even ones the clean https://www form. The
#: CANONICALIZATION under test is real; only the input is synthetic
#: (same pattern as the multimodal payloads).
def _raw_url() -> F.Column:
    path = F.concat(F.lit("page-"), (F.col("doc_id") % 10).cast("string"))
    even = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".example.com/"),
        path, F.lit("/"),
    )
    odd = F.concat(
        F.lit("HTTP://"), F.upper(F.col("source")), F.lit(".EXAMPLE.COM/"),
        path, F.lit("?utm_source=feed&ref="), F.col("doc_id").cast("string"),
    )
    return F.when(F.col("doc_id") % 2 == 0, even).otherwise(odd)


_SQL_RAW_URL = """
CASE WHEN doc_id % 2 = 0
     THEN 'https://www.' || source || '.example.com/page-'
          || CAST(doc_id % 10 AS VARCHAR) || '/'
     ELSE 'HTTP://' || upper(source) || '.EXAMPLE.COM/page-'
          || CAST(doc_id % 10 AS VARCHAR)
          || '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
END
"""

#: canonicalization steps (Java-regex ∩ RE2 common subset, the
#: q_pii_scrub rule): lowercase, strip scheme, strip www., strip
#: query/fragment, strip trailing slash
_URL_STEPS = (r"^https?://", r"^www\.", r"[?#].*$", r"/$")


@register(
    "q_dedup_url",
    oracle=f"""
WITH canon AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           lower({_SQL_RAW_URL}),
           '^https?://', ''), '^www\\.', ''), '[?#].*$', ''), '/$', '')
           AS canonical_url
  FROM documents
)
SELECT canonical_url,
       MIN(doc_id) AS keep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM canon
GROUP BY canonical_url
""",
    tags=("dedup", "pipeline"),
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the first hygiene pass of every
    web-crawl pipeline: scheme, www., case, tracking parameters and
    trailing slashes are presentation noise, so the same page appears
    under many raw URLs. Canonicalize (lowercase → strip scheme →
    strip www. → strip query/fragment → strip trailing /) and keep
    the smallest doc_id per canonical URL. Map-only until one hash
    shuffle on the canonical string (hash60 of it at 100 TB); the
    regex chain stays in the Java∩RE2 subset so the SQL oracle runs
    the identical steps."""
    d = load_table(spark, sf_dir, "documents")
    url = F.lower(_raw_url())
    for pat in _URL_STEPS:
        url = F.regexp_replace(url, pat, "")
    return (
        d.select("doc_id", url.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )


# -- fuzzy record linkage (edit distance) -----------------------------------

_LINK_MAXDIST = 2


@register(
    "q_fuzzy_link",
    oracle=f"""
WITH pf AS (
  SELECT p_partkey,
         regexp_replace(p_name, '[^\\x00-\\x7F]', '?', 'g') AS p_name
  FROM part
),
dirty AS (
  SELECT p_partkey AS dirty_key,
         substr(p_name, 1,
                len(string_split(p_name, ' ')[1]) + 1
                + (p_partkey % len(string_split(p_name, ' ')[2])))
         || substr(p_name,
                   len(string_split(p_name, ' ')[1]) + 3
                   + (p_partkey % len(string_split(p_name, ' ')[2])))
           AS dirty_name,
         string_split(p_name, ' ')[1] AS blk
  FROM pf WHERE p_partkey % 4 = 1
),
cand AS (
  SELECT d.dirty_key, d.dirty_name,
         m.p_partkey AS matched_key, m.p_name AS matched_name,
         levenshtein(d.dirty_name, m.p_name) AS dist
  FROM dirty d
  JOIN pf m
    ON string_split(m.p_name, ' ')[1] = d.blk
   AND len(m.p_name) = len(d.dirty_name) + 1
)
SELECT dirty_key, dirty_name, matched_key, matched_name,
       CAST(dist AS BIGINT) AS dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY dirty_key
              ORDER BY dist, matched_key) AS rn
  FROM cand WHERE dist <= {_LINK_MAXDIST}
) t
WHERE rn = 1
""",
    tags=("dedup", "linkage"),
)
def q_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage via edit distance — the entity-resolution
    shape (dirty feed matched to a clean master table). A dirty feed
    is synthesized deterministically (one character dropped from the
    second name token, position keyed by p_partkey), then candidates
    come from ATTRIBUTE BLOCKING — same first token (provably intact:
    the deletion is confined to token 2) and master length exactly
    dirty length + 1 — and only candidates pay a levenshtein; the
    best match per dirty record wins on (distance, key). Levenshtein
    is built-in JVM-side in Spark and identical in DuckDB — AFTER an
    ASCII fold (non-ASCII -> '?', both engines): DuckDB levenshtein
    counts BYTES while Spark counts CODEPOINTS, so unicode names
    would score different distances (hostile-sweep v3 find; same
    fold as q_str_funcs2) — so the whole linkage is value-checked. At 100 TB the attribute block is
    replaced by q-gram/LSH blocking (same shape as the minhash
    candidates); the verify-only-candidates structure is unchanged."""
    # re-split first (r13, the _docs_parallel rule): the one-file
    # part fixture scans as a single split, and the whole
    # regexp-fold + blocking + levenshtein pass ran on ONE core
    # (measured 4.9 s CPU serial on a 5.6 s wall)
    p = (
        load_table(spark, sf_dir, "part")
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn(
            "p_name", F.regexp_replace("p_name", "[^\\x00-\\x7F]", "?")
        )
    )
    tok1 = F.split(F.col("p_name"), " ")[0]
    # the dropped char sits at 1-based position len(tok1)+2+offset
    # inside the full string (token 2 starts at len(tok1)+2); dirty =
    # everything before it || everything after it
    dirty_name = F.concat(
        F.expr(
            "substr(p_name, 1, length(split(p_name, ' ')[0]) + 1"
            " + (p_partkey % length(split(p_name, ' ')[1])))"
        ),
        F.expr(
            "substr(p_name, length(split(p_name, ' ')[0]) + 3"
            " + (p_partkey % length(split(p_name, ' ')[1])))"
        ),
    )
    dirty = p.filter(F.col("p_partkey") % 4 == 1).select(
        F.col("p_partkey").alias("dirty_key"),
        dirty_name.alias("dirty_name"),
        tok1.alias("blk"),
    )
    m = p.select(
        F.col("p_partkey").alias("matched_key"),
        F.col("p_name").alias("matched_name"),
        tok1.alias("mblk"),
    )
    cand = dirty.join(
        m,
        (F.col("blk") == F.col("mblk"))
        & (
            F.length("matched_name") == F.length("dirty_name") + 1
        ),
    ).withColumn(
        "dist", F.levenshtein("dirty_name", "matched_name").cast("bigint")
    )
    w = Window.partitionBy("dirty_key").orderBy("dist", "matched_key")
    return (
        cand.filter(F.col("dist") <= _LINK_MAXDIST)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("dirty_key", "dirty_name", "matched_key", "matched_name", "dist")
    )


# -- incremental dedup: new batch vs historical index ------------------------


@register(
    "q_dedup_incremental",
    oracle=f"""
WITH sig AS ({_sql_minhash_signature()}),
bands AS (
  {_sql_band_keys()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key
   AND b.doc_id % 2 = 1
   AND (a.doc_id % 2 = 0 OR a.doc_id < b.doc_id)
)
SELECT c.doc_a, c.doc_b, {_sql_est_jaccard()} AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
""",
    tags=("dedup", "lsh", "pipeline"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production daily-batch mode: a NEW
    document batch (odd doc_ids) is checked against the HISTORICAL
    corpus index (even doc_ids) plus its own earlier arrivals, never
    history-vs-history (that work was paid on previous days). The
    join emits (doc_a = the earlier/history doc, doc_b = the new
    doc, signature-estimated Jaccard). At 100 TB the history side is
    the STORED band index (band_key, doc_id) — kilobytes per
    historical doc, bucketed on band_key so each daily batch joins
    without reshuffling history — and signatures are computed only
    for the new batch; here both sides derive from one table and
    the asymmetry lives in the join predicate, which is the part
    the oracle value-checks. Nightly full-corpus sweep:
    q_dedup_minhash; per-arrival streaming form:
    q_stream_dedup_ingest."""
    from streamz_postgres_spark.lifecycle import persist_scoped

    # row-local signatures (r13, see _doc_hashes); the hash array is
    # not needed here, so it is projected away before the persist
    sig = _doc_signatures(spark, sf_dir).drop("hs")
    persist_scoped("q_dedup_incremental", sig)

    bands = _band_stack(sig)
    hist_or_earlier = (F.col("doc_id") % 2 == 0) | (
        F.col("doc_id") < F.col("doc_b")
    )
    cand = (
        bands.join(
            bands.select(
                F.col("doc_id").alias("doc_b"), F.col("band_key").alias("bk2")
            ),
            (F.col("band_key") == F.col("bk2"))
            & (F.col("doc_b") % 2 == 1)
            & hist_or_earlier,
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{j}").alias(f"a{j}") for j in range(_N_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(_N_HASHES)],
    )
    agree = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int")
        for j in range(_N_HASHES)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (agree / float(_N_HASHES)).alias("est_jaccard"),
        )
    )


# -- exact-substring dedup via winnowing fingerprints ------------------------

#: char-gram length and winnowing window: any substring shared by
#: two docs of length >= _SUB_K + _SUB_W - 1 = 31 chars is
#: GUARANTEED to produce a shared fingerprint (the winnowing
#: theorem, Schleimer et al. 2003 / the MOSS scheme)
_SUB_K = 24
_SUB_W = 8
#: drop fingerprints present in more than this many docs: a gram in
#: hundreds of docs is boilerplate, not a duplication signal, and it
#: is exactly the hot key that would quadratically blow up the
#: candidate join (the PPJoin/common-crawl stop-gram practice)
_SUB_DF_CAP = 50
#: pairs must share at least this many distinct grams
_SUB_MIN_SHARED = 2

_SUB_HS = (
    # the IF guard is load-bearing (round-7 review find, confirmed
    # live): Spark's sequence(1, 0) is the DESCENDING [1, 0] — NOT
    # empty like DuckDB's generate_series — so without it a document
    # shorter than K (resp. K+W-1) feeds slice() a zero start and
    # crashes the whole job (INVALID_PARAMETER_VALUE.START). Short
    # docs simply have no fingerprints, on both engines.
    f"IF(length(text) < {_SUB_K}, array(), "
    f"transform(sequence(1, length(text) - {_SUB_K} + 1), "
    f"i -> CAST(conv(substr(md5(substr(text, i, {_SUB_K})), 1, 15), 16, 10)"
    " AS BIGINT)))"
)
_SUB_FPS = (
    # the window slice is BOUND ONCE per position (r11 rule: the old
    # form evaluated slice(hs, j, W) twice — for array_min and for
    # array_position — two array allocations per window; binding it
    # via the single-element-array-transform `let` measured 1.7x on
    # the x10 fingerprint scan at identical selected grams, since
    # argmin over the same window is position-for-position the same)
    f"IF(length(text) < {_SUB_K + _SUB_W - 1}, array(), "
    "array_distinct(transform("
    f"sequence(1, length(text) - {_SUB_K + _SUB_W - 1} + 1), "
    f"j -> element_at(transform(array(slice(hs, j, {_SUB_W})), "
    f"w -> substr(text, j - 1 + array_position(w, array_min(w)), "
    f"{_SUB_K})), 1))))"
)


def _sub_pairs_ctes(src: str = "documents") -> str:
    """The winnowing CTE chain (h, fp, keep, c, p) over ``src`` —
    shared by the substring oracles and composable after upstream
    CTEs (q_corpus_pipeline_v2 runs it over a filtered corpus)."""
    return f"""h AS (
  SELECT doc_id, text,
         list_transform(
           generate_series(1, greatest(length(text) - {_SUB_K} + 1, 0)),
           i -> CAST('0x' || substr(md5(substr(text, i, {_SUB_K})), 1, 15)
                AS BIGINT)) AS hs
  FROM {src}
), fp AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1,
             greatest(length(text) - {_SUB_K + _SUB_W - 1} + 1, 0)),
           j -> substr(text,
                       j - 1 + list_position(hs[j:j+{_SUB_W - 1}],
                                             list_min(hs[j:j+{_SUB_W - 1}])),
                       {_SUB_K})))) AS gram
  FROM h
), keep AS (
  SELECT gram FROM fp GROUP BY gram
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {_SUB_DF_CAP}
), c AS (
  SELECT fp.doc_id, fp.gram FROM fp JOIN keep USING (gram)
), p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(DISTINCT a.gram) AS BIGINT) AS n_shared,
         MIN(a.gram) AS gram
  FROM c a JOIN c b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(DISTINCT a.gram) >= {_SUB_MIN_SHARED}
)"""


_SUB_ORACLE_PAIRS_CTE = "WITH " + _sub_pairs_ctes("documents")


@register(
    "q_dedup_substring",
    oracle=(
        _SUB_ORACLE_PAIRS_CTE
        + " SELECT doc_a, doc_b, n_shared FROM p"
    ),
    tags=("dedup", "text", "fingerprint"),
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING duplication detection via winnowing — the
    public 'Deduplicating Training Data Makes Language Models
    Better' (Lee et al. 2022) duplication class this family lacked:
    doc pairs sharing verbatim character spans, which token-set
    MinHash underweights (a 40-char quote inside two long unrelated
    docs) and line-dedup misses when the span crosses line breaks.
    Method (Schleimer et al. 2003 winnowing, the MOSS scheme): hash
    every {_SUB_K}-char gram (rolling md5-hash60 HOF, pure codegen),
    then per sliding window of {_SUB_W} hashes keep the gram at the
    first-minimum position — any shared span of >= {_SUB_K}+{_SUB_W}-1
    = 31 chars is guaranteed to yield a shared fingerprint, with only
    ~2/(W+1) of grams retained. Candidates join on the GRAM TEXT
    itself (never the hash), so every reported pair shares a real
    verbatim 24-char span — zero hash-collision false positives by
    construction; a stop-gram DF cap (<= {_SUB_DF_CAP} docs) drops
    boilerplate fingerprints, which is simultaneously the hot-key
    guard for the candidate self-join. Scale: per-doc work is
    O(len x W) in whole-stage codegen after a re-split
    (_docs_parallel); the shuffle carries distinct 24-char
    fingerprints (~2.len/(W+1) per doc), the self-join is equi on
    fingerprint with per-key fan-out bounded by the DF cap — no
    all-pairs anywhere."""
    return _winnow_pairs(spark, sf_dir).select("doc_a", "doc_b", "n_shared")


def _winnow_pairs(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Shared candidate stage for the substring-dedup family:
    winnowing fingerprints -> DF-capped gram join -> one row per doc
    pair with (n_shared distinct grams, lexicographic MIN shared
    gram as the deterministic representative for span extension).
    ``docs`` overrides the input corpus (pipeline compositions that
    dedup a FILTERED frame, e.g. q_corpus_pipeline_v2).

    r13: the winnowing scan — the per-gram md5 HOF, the single most
    expensive expression in the registry — now feeds exactly ONE
    exchange (the gram groupBy below), so the r10 persist pin is
    gone along with the self-join it protected; see the in-body
    comment for the equivalence argument and the measured
    five-scans-per-run pathology the old shape hid."""
    d = docs if docs is not None else _docs_parallel(spark, sf_dir)

    g = (
        d.selectExpr("doc_id", f"{_SUB_HS} AS hs", "text")
        .selectExpr("doc_id", f"explode({_SUB_FPS}) AS gram")
    )
    # r13 shape (guide §2.3/§2.4): ONE groupBy(gram) collects each
    # gram's doc list and the candidate pairs are generated IN-GROUP
    # (row-local nested transform, fan-out bounded by the DF cap at
    # <= cap*(cap-1)/2 per gram). The old shape — df-cap aggregate,
    # then g ⋈ df_keep, then a gram self-join — evaluated the winnow
    # scan (the registry's most expensive expression) up to FIVE
    # times per run despite the persist pin, because the df_keep
    # BROADCAST subtree is planned once per self-join side and
    # broadcast-thread jobs do not share the in-flight cache fill
    # (stage profile: 3-5 stages x 8.5 MB parquet input x 3-5 s CPU
    # each). Here the scan feeds exactly one exchange, so no persist
    # is needed at all.
    #
    # Value parity with the old self-join, case by case:
    # - (doc_id, gram) is UNIQUE by construction (_SUB_FPS wraps the
    #   winnow selection in array_distinct), so count(*) == df and
    #   the in-group pair multiset {(a, b): a < b} is exactly the
    #   self-join's output — including under PK-violating corpora
    #   (duplicate doc_ids multiply pairs identically in both forms).
    # - df counts ROWS (count(*), matching COUNT(*) in the oracle and
    #   the old code), not size(ds): collect_list drops NULL doc_ids,
    #   so a NULL-keyed row must still count toward the cap but can
    #   never pair (NULL < x is NULL in both forms).
    # r14 (ADVICE medium / verdict "What's wrong" #1): the r13 form
    # ran collect_list(doc_id) in the SAME aggregate as the df count,
    # BEFORE the df-cap filter — so a corpus-wide boilerplate gram
    # appearing in millions of docs would materialize its entire doc
    # list in one in-memory aggregation buffer (a collect_list buffer
    # for a single key cannot spill) only to be discarded by the
    # filter. Bounded form, same ONE exchange: a window count over
    # the gram partitioning (WindowExec buffers rows in a SPILLABLE
    # UnsafeExternalSorter, guide §5) computes df per row, the df-cap
    # filter drops hot grams BEFORE any list exists, and the
    # collect_list then runs over groups of <= _SUB_DF_CAP rows by
    # construction — its buffer is bounded at cap elements. The
    # groupBy(gram) reuses the window's hashpartitioning(gram)
    # exchange (guide §2.4), so the plan still has exactly one
    # exchange below the pair explode (verified in
    # plans/r14/q_dedup_substring_after_hazard.txt).
    #
    # df semantics unchanged: count(*) over the partition counts
    # NULL-doc_id rows toward the cap (matching the oracle's
    # COUNT(*)), while collect_list still drops them — a NULL-keyed
    # row counts but never pairs, exactly as before.
    grouped = (
        g.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
        .filter(F.col("df").between(2, _SUB_DF_CAP))
        .groupBy("gram")
        .agg(F.collect_list("doc_id").alias("ds"))
    )
    pairs = grouped.select(
        "gram",
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda x: F.transform(
                        F.filter(F.col("ds"), lambda y: x < y),
                        lambda y: F.struct(
                            x.alias("doc_a"), y.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("p"),
    ).select(F.col("p.doc_a"), F.col("p.doc_b"), "gram")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.min("gram").alias("gram"),
        )
        .filter(F.col("n_shared") >= _SUB_MIN_SHARED)
    )




def _ext_expr(mism_list: str, bound: str) -> str:
    """Maximal run length before the first mismatch: bound when the
    mismatch list has no true, else first-true index - 1; 0 when the
    bound is empty. (The CASE guard matters cross-engine: Spark's
    sequence(1, 0) is the DESCENDING [1, 0] while DuckDB's
    generate_series(1, 0) is empty.)"""
    return (
        f"CASE WHEN {bound} >= 1 THEN "
        f"coalesce(nullif(__POS__({mism_list}, true), 0) - 1, {bound}) "
        "ELSE 0 END"
    )


@register(
    "q_dedup_substring_spans",
    oracle=f"""{_SUB_ORACLE_PAIRS_CTE}, e AS (
  SELECT p.doc_a, p.doc_b, p.n_shared, p.gram,
         position(p.gram IN da.text) AS pa,
         position(p.gram IN db.text) AS pb,
         da.text AS ta, db.text AS tb
  FROM p JOIN documents da ON da.doc_id = p.doc_a
         JOIN documents db ON db.doc_id = p.doc_b
)
SELECT doc_a, doc_b, n_shared,
  CAST({_SUB_K}
   + ({_ext_expr("list_transform(generate_series(1, least(pa, pb) - 1), "
                 "i -> substr(ta, pa - i, 1) != substr(tb, pb - i, 1))",
                 "least(pa, pb) - 1").replace("__POS__", "list_position")})
   + ({_ext_expr(f"list_transform(generate_series(1, "
                 f"least(length(ta) - pa - {_SUB_K} + 1, "
                 f"      length(tb) - pb - {_SUB_K} + 1)), "
                 f"i -> substr(ta, pa + {_SUB_K} - 1 + i, 1) != "
                 f"     substr(tb, pb + {_SUB_K} - 1 + i, 1))",
                 f"least(length(ta) - pa - {_SUB_K} + 1, "
                 f"      length(tb) - pb - {_SUB_K} + 1)"
                 ).replace("__POS__", "list_position")})
   AS BIGINT) AS span_len
FROM e
""",
    tags=("dedup", "text", "fingerprint"),
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL shared-span extents per duplicate pair — the
    actionable form of q_dedup_substring's detection (Lee et al.
    2022 removes the duplicated SPAN, so the pipeline needs its
    extent, not just the pair): take each pair's deterministic
    representative fingerprint (lexicographic min of the shared
    grams), locate its first occurrence in both texts, and extend
    left and right while the characters agree — the maximal verbatim
    span CONTAINING that gram, computed as pure string HOFs
    (first-mismatch index over a character-comparison array, with an
    explicit empty-range guard because Spark's sequence(1,0) is
    descending where DuckDB's generate_series(1,0) is empty). Cost
    on top of the pair stage: two broadcast-able text joins + O(span)
    character work per pair, all codegen. The fixture's injected
    duplicates surface spans of 100-400+ chars."""
    pairs = _winnow_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    j = (
        pairs.join(
            docs.select(
                F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")
            ),
            "doc_b",
        )
        .selectExpr(
            "doc_a", "doc_b", "n_shared",
            "locate(gram, ta) AS pa", "locate(gram, tb) AS pb",
            "ta", "tb",
        )
    )
    left = _ext_expr(
        "transform(sequence(1, least(pa, pb) - 1), "
        "i -> substr(ta, pa - i, 1) != substr(tb, pb - i, 1))",
        "least(pa, pb) - 1",
    ).replace("__POS__", "array_position")
    rbound = (
        f"least(length(ta) - pa - {_SUB_K} + 1, "
        f"length(tb) - pb - {_SUB_K} + 1)"
    )
    right = _ext_expr(
        f"transform(sequence(1, {rbound}), "
        f"i -> substr(ta, pa + {_SUB_K} - 1 + i, 1) != "
        f"substr(tb, pb + {_SUB_K} - 1 + i, 1))",
        rbound,
    ).replace("__POS__", "array_position")
    return j.selectExpr(
        "doc_a",
        "doc_b",
        "n_shared",
        f"CAST({_SUB_K} + ({left}) + ({right}) AS BIGINT) AS span_len",
    )


@register(
    "q_dedup_substring_clusters",
    oracle=f"""WITH RECURSIVE {_sub_pairs_ctes("documents")},
{_sql_cc_closure("SELECT doc_a AS u, doc_b AS w FROM p",
                 "documents", "doc_id")}
SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
""",
    tags=("dedup", "graph", "fingerprint", "scale"),
)
def q_dedup_substring_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-duplication CLUSTERS: q_dedup_substring's verified
    winnowing pairs fed through the connected-components reducer, so
    every document gets the min doc_id of its duplication component
    (singletons keep their own id). This is the SCALE-SAFE read-out
    of substring dedup — SCALE.md's 10x curve showed the pair list
    itself growing ~quadratically inside mega-clusters (a replica
    corpus of k near-copies emits k(k-1)/2 pairs), while the label
    table stays O(docs) no matter how duplicated the corpus is; a
    100 TB pipeline keeps one canonical doc per cluster_id and drops
    the rest without ever materializing the pair blowup. Cost on top
    of the pair stage: O(log diameter) pointer-doubling rounds of
    hash joins over the (small) edge set; the oracle is a recursive
    CTE computing the same transitive closure, so the iterative loop
    is value-checked end to end."""
    pairs = _winnow_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("w")
    )
    return _doc_components(spark, sf_dir, pairs)


@register(
    "q_dedup_minhash_clusters",
    # the candidate-overlap chain starts with "WITH sig AS"; the
    # closure CTE needs the RECURSIVE keyword on the same WITH
    oracle=_SQL_CANDIDATE_OVERLAP.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
p AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE CAST(i.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_common)
        >= {_MINHASH_JACCARD}
),
{_sql_cc_closure("SELECT doc_a AS u, doc_b AS w FROM p",
                 "documents", "doc_id")}
SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
""",
    tags=("dedup", "lsh", "graph", "scale"),
)
def q_dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level near-duplicate CLUSTERS: q_dedup_minhash's
    VERIFIED pairs (banded LSH candidates, exact shingle-Jaccard >=
    {_MINHASH_JACCARD}) through the connected-components reducer —
    completing the cluster read-out family (q_dedup_clusters covers
    the embedding graph, q_dedup_substring_clusters the verbatim-span
    graph; this is the token-set graph, the one CCNet/RefinedWeb-
    style pipelines actually dedup on). Near-dup relations are not
    transitive (A~B, B~C does not imply A~C at any Jaccard
    threshold), so pair lists over-count and a pipeline that keeps
    "one doc per pair" deletes too much or too little — the
    standard resolution IS the connected-component hull, one
    canonical doc (min doc_id) kept per component. Output is
    O(docs) regardless of how duplicated the corpus is. Same shared
    pipeline as the pair key (one fix propagates), same
    pointer-doubling CC loop, recursive-CTE closure oracle."""
    ov = _banded_candidate_overlap(spark, sf_dir)
    jaccard = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    pairs = (
        ov.filter(jaccard >= _MINHASH_JACCARD)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("w"))
    )
    return _doc_components(spark, sf_dir, pairs)


# -- LSH banding sweep (which (bands x rows) to run at scale) ---------------

#: the factorizations of the 16-slot signature under audit
_SWEEP_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))


def _sql_sweep_bands() -> str:
    """UNION ALL of band keys for every sweep config, each labeled
    ``b{bands}r{rows}`` — the SQL mirror of the stacked Spark band
    frame (same NULL-signature exclusion as _sql_band_keys)."""
    selects = []
    for nb, rpb in _SWEEP_CONFIGS:
        for b in range(nb):
            cols = " || ',' || ".join(
                f"m{b * rpb + r}" for r in range(rpb)
            )
            selects.append(
                f"SELECT 'b{nb}r{rpb}' AS config, doc_id, "
                f"'{b}:' || {cols} AS band_key FROM sig "
                f"WHERE m0 IS NOT NULL"
            )
    return "\n  UNION ALL\n  ".join(selects)


@register(
    "q_lsh_band_sweep",
    oracle=f"""
WITH sig AS ({_sql_minhash_signature()}),
bands AS (
  {_sql_sweep_bands()}
),
cand AS (
  SELECT DISTINCT a.config, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.config = b.config AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
wide AS (SELECT DISTINCT doc_a, doc_b FROM cand WHERE config = 'b16r1'),
{_sql_overlap_tail('wide')},
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE CAST(i.n_common AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_common)
        >= {_MINHASH_JACCARD}
),
percfg AS (
  SELECT c.config,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_true
  FROM cand c
  LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
  GROUP BY c.config
)
SELECT config, n_candidates, n_true,
       CAST(n_true AS DOUBLE) / n_candidates AS precision,
       CAST(n_true AS DOUBLE)
         / (SELECT n_true FROM percfg WHERE config = 'b16r1')
         AS recall_vs_b16r1
FROM percfg
""",
    tags=("dedup", "lsh", "tuning"),
)
def q_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BANDING SWEEP — the tuning table you read before choosing
    a (bands x rows) factorization at 100 TB, where re-running dedup
    per candidate config is unaffordable but one sweep over the SAME
    16-slot signatures is one job: for every factorization of the
    signature (16x1, 8x2, 4x4, 2x8), the candidate-pair count (the
    cost knob: what the verify stage must process), the TRUE pairs
    among them (exact shingle-Jaccard >= {_MINHASH_JACCARD}),
    precision, and recall relative to the widest config. The
    containment argument that makes exact recall computable WITHOUT
    an all-pairs pass: a b x r candidate requires r consecutive
    matching slots, which implies at least one matching slot — so
    every config's candidate set is a subset of 16x1's, and scoring
    exact Jaccard on 16x1's candidates alone grounds every config's
    truth count. (At 100 TB the same sweep runs on a sampled
    signature table; the containment argument is sample-free.)
    One stacked band frame serves all four configs through a single
    (config, band_key) self-join — shuffle keys stay band buckets,
    per-key fan-out is the b16r1 collision rate, the quantity this
    audit exists to measure."""
    from streamz_postgres_spark.lifecycle import persist_scoped

    sig = _doc_signatures(spark, sf_dir)
    persist_scoped("q_lsh_band_sweep", sig)

    stack_args = []
    n_rows = 0
    for nb, rpb in _SWEEP_CONFIGS:
        for b in range(nb):
            key_cols = ", ".join(
                f"CAST(m{b * rpb + r} AS STRING)" for r in range(rpb)
            )
            stack_args.append(
                f"'b{nb}r{rpb}', concat_ws(',', '{b}:', {key_cols})"
            )
            n_rows += 1
    bands = sig.filter(F.col("m0").isNotNull()).select(
        "doc_id",
        F.expr(
            f"stack({n_rows}, {', '.join(stack_args)}) AS (config, band_key)"
        ),
    )
    b2 = bands.select(
        F.col("config").alias("cfg2"),
        F.col("doc_id").alias("doc_b"),
        F.col("band_key").alias("bk2"),
    )
    cand = (
        bands.join(
            b2,
            (F.col("config") == F.col("cfg2"))
            & (F.col("band_key") == F.col("bk2"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select("config", F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    persist_scoped("q_lsh_band_sweep_cand", cand)

    wide = cand.filter(F.col("config") == "b16r1").select("doc_a", "doc_b")
    jaccard = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    truth = (
        _overlap_from_arrays(wide, sig)
        .filter(jaccard >= _MINHASH_JACCARD)
        .select("doc_a", "doc_b", F.lit(1).alias("is_true"))
    )
    percfg = (
        cand.join(truth, ["doc_a", "doc_b"], "left")
        .groupBy("config")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.coalesce(F.col("is_true"), F.lit(0)))
            .cast("bigint")
            .alias("n_true"),
        )
    )
    denom = F.broadcast(
        percfg.filter(F.col("config") == "b16r1").select(
            F.col("n_true").alias("n_true_wide")
        )
    )
    return percfg.crossJoin(denom).select(
        "config",
        "n_candidates",
        "n_true",
        (F.col("n_true").cast("double") / F.col("n_candidates")).alias(
            "precision"
        ),
        (F.col("n_true").cast("double") / F.col("n_true_wide")).alias(
            "recall_vs_b16r1"
        ),
    )
