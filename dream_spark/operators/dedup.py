"""Deduplication operators: exact, MinHash+LSH, SimHash, word-n-gram
Jaccard, embedding-cosine near-duplicates, and cluster assembly.

Scale design notes (the part that matters at 100 TB):
- No operator materializes the O(n^2) pair space.  Candidate pairs always
  come from an equi-join on a *bucket key* (LSH band hash, SimHash band,
  prefix feature, hyperplane bucket) — Spark shuffles by bucket, buckets are
  small, and the exact verification runs only on candidates.
- Signatures come from zero-shuffle Arrow kernels (functions/textkernels.py):
  one mapInPandas pass per corpus, no shingle-level shuffle at all.
- Candidate joins move ids only; vectors/sets are joined back for
  verification through a size-gated broadcast (functions/joins.py): hinted
  below the row threshold, plain keyed shuffle join above it.
- All hashing is the deterministic integer family in functions/hashing.py,
  replayed verbatim by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dream_spark.functions.features import duck_shingle_ids_cte, duck_token_ngram_ids_cte
from dream_spark.functions.hashing import hash_sql
from dream_spark.functions.joins import (
    CC_SMALL_EDGES_CONF,
    DEFAULT_CC_SMALL_EDGES,
    broadcast_if_small,
    conf_int,
)
from dream_spark.functions.textkernels import (
    minhash_signatures,
    simhash_fingerprints,
    token_ngram_arrays,
)
from dream_spark.functions.vectors import (
    buckets_udf,
    cos_sql,
    dot_col,
    dot_sql,
    dot_udf,
    plane_dot_sql,
)
from dream_spark.session import release_local_checkpoint
from dream_spark.sources.tables import load_table

# MinHash configuration: 16 hashes in 2 bands of 8 → LSH threshold ≈ 0.92.
# Tight bands keep the candidate stream precision-tuned: character-3-gram
# profiles of same-language documents overlap heavily, so looser bands
# (4×4, t≈0.71) collide near-quadratically on a homogeneous corpus.
MINHASH_K = 16
BAND_ROWS = 8
N_BANDS = MINHASH_K // BAND_ROWS

# Jaccard threshold t = T_NUM/T_DEN (integer fraction so both engines derive
# the prefix length with exact arithmetic)
JACCARD_THRESHOLD = 0.8
_T_NUM, _T_DEN = 4, 5
# Jaccard feature space: consecutive-token n-grams.  n=3 keeps the prefix
# index discriminative even over a small vocabulary (bigrams of a ~40-word
# vocab have document frequencies in the hundreds, which makes the prefix
# candidate join near-quadratic; trigrams cut the candidate stream ~10x at
# identical verified output on the synthetic corpus).
JACCARD_NGRAM = 3

# 32-bit SimHash in 4 bands of 8: a pair within hamming ≤ 3 differs in at
# most 3 bands (pigeonhole), so banding loses nothing; 8-bit bands keep
# buckets ~256× smaller than the 4-bit nibbles a 16-bit fingerprint allows.
SIMHASH_BITS = 32
SIMHASH_BAND_BITS = 8
SIMHASH_MAX_HAMMING = 3

EMB_QUANT = 1_000_000  # float → int quantization scale (exact cross-engine)
EMB_COS_THRESHOLD = 0.4
EMB_PLANES = 16  # 4 tables × 4 hyperplanes


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact row dedup — ``part`` unioned with itself (the FIXTURES.md
    duplicate-injection recipe) then dropDuplicates == SELECT DISTINCT."""
    part = load_table(spark, sf_dir, "part")
    return part.unionAll(part).dropDuplicates()


DEDUP_EXACT_SQL = "SELECT DISTINCT * FROM (SELECT * FROM part UNION ALL SELECT * FROM part)"


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed dedup: one surviving doc_id per distinct text (keep the
    smallest id), with the duplicate count — groupBy on the content key, the
    canonical hash-dedup shape (shuffle keyed by text hash at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("keep_id", "n_copies")


DEDUP_EXACT_DOCS_SQL = (
    "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY text"
)


# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------
def _band_slot_hash(b: int, r: int, col: str) -> str:
    """Positional band combiner: slot r of band b re-hashed with its own
    function (index offset past the signature functions), then summed —
    8 values < 2^31 sum < 2^34, exact in int64 for any band width."""
    return hash_sql(col, MINHASH_K + b * BAND_ROWS + r)


def _band_frame(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bh): band hash = Σ_r h_{K+b·R+r}(sig_r) — positional
    (each slot has its own hash) yet commutative in evaluation order."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    F.expr(_band_slot_hash(b, r, f"sig{b * BAND_ROWS + r}"))
                    for r in range(BAND_ROWS)
                ).alias("bh"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("x")).select(
        "doc_id", F.col("x.band").alias("band"), F.col("x.bh").alias("bh")
    )


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs for ANY ``(doc_id, text)`` DataFrame —
    the library surface; ``dedup_minhash`` wraps it over the test table.

    shingle → minhash → band → bucket-join: signatures come from the
    zero-shuffle Arrow kernel (functions/textkernels.py) — the only shuffle
    in the whole operator is the band self-join, keyed on ids.

    The signature frame is localCheckpoint-materialized before the
    self-join: without it each side of the join re-runs the Arrow
    shingle+minhash kernel over the full corpus (the broadcast build side
    cannot reuse the probe side's stage), which is the single most
    expensive stage here run twice for nothing.  Signatures are 17 ints
    per document — the cheapest possible materialization of that work
    (guide §8: decide on small proxies, §5 localCheckpoint to cut
    lineage)."""
    bands = _band_frame(minhash_signatures(docs, MINHASH_K).localCheckpoint())
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: ``minhash_pairs`` over the documents table."""
    return minhash_pairs(load_table(spark, sf_dir, "documents"))


def _duck_minhash_bands() -> str:
    sig_cols = ", ".join(f"MIN({hash_sql('sid', i)}) AS sig{i}" for i in range(MINHASH_K))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " + ".join(_band_slot_hash(b, r, f"sig{b * BAND_ROWS + r}") for r in range(BAND_ROWS))
        + " AS bh FROM sigs"
        for b in range(N_BANDS)
    )
    return f"""
sids AS ({duck_shingle_ids_cte()}),
sigs AS (SELECT doc_id, {sig_cols} FROM sids GROUP BY doc_id),
bands AS ({band_selects})""".strip()


DEDUP_MINHASH_SQL = f"""
WITH {_duck_minhash_bands()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
""".strip()


# --------------------------------------------------------------------------
# exact n-gram Jaccard with rare-feature candidate filtering
# --------------------------------------------------------------------------
def jaccard_pairs(docs: DataFrame, threshold: tuple[int, int] = (_T_NUM, _T_DEN)) -> DataFrame:
    """Exact-recall Jaccard near-dup pairs for ANY ``(doc_id, text)``
    DataFrame — the library surface; ``dedup_jaccard`` wraps it.

    ``threshold`` is an integer fraction (num, den) with 0 < num ≤ den —
    exact rational arithmetic keeps the prefix length, size filter, and
    positional bound bit-identical on every engine at any threshold.

    Feature space = consecutive-token JACCARD_NGRAM-grams (discriminative
    for natural text — character shingles of same-language documents overlap
    so heavily that any candidate scheme goes quadratic, and over a small
    vocabulary even bigrams do).  Each document's n-gram set
    is a sorted array; its join prefix is simply the first n − ⌈t·n⌉ + 1
    elements: any pair with J ≥ t MUST share a prefix element (pigeonhole
    on the shared global order), so the candidate join loses no recall.
    Prefix filtering is exact under ANY global feature order; the order
    is size-adaptive (see :func:`_prepared_docsets`): ascending sid below
    the corpus gate (zero extra shuffles), RAREST-FIRST document
    frequency above it — plain ascending sid lets corpus-wide boilerplate
    n-grams into ~20% of prefixes, which pairs up every document
    containing them (measured ~300M false candidates for 500k docs on the
    100× probe corpus).  Exact |∩|/|∪| verifies candidates; dedup
    happens on the (tiny) verified output, not the (large) candidate
    stream.
    """
    t_num, t_den = threshold
    if not (0 < t_num <= t_den):
        raise ValueError(f"threshold must be a fraction in (0, 1], got {threshold}")
    docsets, n_docs, total_sids = _prepared_docsets(docs)
    cand = _jaccard_candidates(docsets, threshold)
    # persist AND materialize the (tiny) verified-pair output:
    # materializing here lets the (large) per-doc set-array cache be
    # RELEASED before returning — the library must not pin corpus-sized
    # caches for the caller's session lifetime (only the
    # threshold-surviving pair set, which is orders of magnitude smaller,
    # stays cached for repeat consumers).
    out = _jaccard_verify(cand, docsets, n_docs, threshold, total_sids).persist()
    out.count()
    docsets.unpersist()
    return out


# Verification build-side broadcast cap in ARRAY ELEMENTS, not rows: the
# docset rows carry the full n-gram arrays, so the generic ~0.5 KB/row
# budget behind DEFAULT_BROADCAST_MAX_ROWS under-counts them by an order
# of magnitude (500k docs × ~100 sids × 8 B ≈ 400 MB — measured GC-thrash
# on the 100× probe corpus under the row gate alone).  16M int64 elements
# ≈ 128 MB per side keeps two concurrent build sides comfortably inside
# a local-mode heap; past it the verify join degrades to a keyed shuffle.
_VERIFY_BC_MAX_ELEMS = 16_000_000

# Corpus-size gate for the Jaccard machinery's scale path, in KERNEL
# n-gram-set rows (docs with a non-empty set).  At or below it:
# ascending-sid prefix order + single-phase verify-everything — the
# fewest fixed actions, and a bounded worst case (≤ thr²/2 candidate
# pairs even on an all-boilerplate corpus).  Above it: rarest-first
# reorder + label-pruned verification, whose extra linear passes buy
# back the measured FP/cluster-width blowups.  Both paths produce
# IDENTICAL results (prefix filtering is order-exact, label pruning is
# connectivity-exact); the gate is a physical choice, same philosophy as
# broadcast-vs-shuffle and the CC smallEdges gate, and tests force the
# scale path via the conf.
JACCARD_SMALL_DOCS_CONF = "spark.dream_spark.jaccard.smallDocs"
_JACCARD_SMALL_DOCS = 8_192


def _prepared_docsets(docs: DataFrame) -> tuple[DataFrame, int, int]:
    """Kernel pass + size-adaptive prefix order → (persisted docsets,
    n_docs, total array elements).  The returned frame is persisted AND
    materialized (the stats aggregation) so the downstream subtrees
    (prefix stream, verification joins) never race to compute the kernel
    before the cache is populated; callers unpersist it."""
    raw = token_ngram_arrays(docs, JACCARD_NGRAM).persist()
    n_docs, total_sids = _docset_stats(raw)
    thr = conf_int(docs.sparkSession, JACCARD_SMALL_DOCS_CONF, _JACCARD_SMALL_DOCS)
    if n_docs <= thr:
        return raw, n_docs, total_sids
    ordered = _df_ordered(raw).persist()
    ordered.count()  # materialize before releasing the raw kernel cache
    raw.unpersist()
    return ordered, n_docs, total_sids


def _docset_stats(docsets: DataFrame) -> tuple[int, int]:
    """One materializing action over the persisted set-array frame:
    (row count, total array elements) — count gates row-bounded
    broadcasts, the element total gates the fat verify build side."""
    row = docsets.agg(
        F.count(F.lit(1)).alias("c"), F.coalesce(F.sum("n"), F.lit(0)).alias("s")
    ).first()
    return int(row["c"]), int(row["s"])


def _df_ordered(docsets: DataFrame) -> DataFrame:
    """Re-sort each document's sid array RAREST-FIRST — ascending
    (document frequency, sid) — the classic PPJoin global order.

    Prefix filtering is exact under ANY global total order, so the
    verified-pair output (and the DuckDB oracle, which keeps plain
    ascending sid) is bit-identical; what changes is candidate PRECISION.
    Under ascending sid, a corpus-wide boilerplate n-gram ("all rights
    reserved", a mirror's footer) lands in ~20% of prefixes by luck and
    pairs up everything containing it — measured 472M candidates for 500k
    docs (~300M false) on the 100× probe corpus, which plants exactly such
    a shared suffix.  Rarest-first pushes high-df n-grams into the suffix,
    where they can never generate a candidate, collapsing the FP stream.

    Cost: one df aggregation + one occurrence-keyed join + one per-doc
    re-collect — all linear in Σn with map-side combine; AQE broadcasts
    the vocabulary side when it is small.  Documents with empty n-gram
    sets drop out (they can never be candidates or verified pairs, so the
    output is unaffected)."""
    occ = docsets.select("doc_id", F.explode("sids").alias("sid"))
    df_tbl = occ.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
    return (
        occ.join(df_tbl, on="sid")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("df"), F.col("sid")))
                ),
                lambda s: s["sid"],
            ).alias("sids")
        )
        .select("doc_id", F.size("sids").alias("n"), "sids")
    )


def _jaccard_candidates(docsets: DataFrame, threshold: tuple[int, int]) -> DataFrame:
    """PPJoin candidate id-pairs ``(doc_a < doc_b)`` from a persisted
    ``(doc_id, n, sids)`` set-array frame — WITH multiplicity (one row per
    surviving shared prefix token): deduping here would shuffle the whole
    candidate stream; consumers dedup whatever (small) subset they verify.
    Callers pass a :func:`_df_ordered` frame — any consistent total order
    is EXACT, rarest-first is the one with usable candidate precision."""
    t_num, t_den = threshold
    # ⌈t·n⌉ with exact integer arithmetic: (T_NUM·n + T_DEN − 1) div T_DEN
    prefix_len = (
        F.col("n") - F.floor((F.lit(t_num) * F.col("n") + t_den - 1) / F.lit(float(t_den))) + 1
    ).cast("int")
    pref = docsets.select(
        "doc_id",
        "n",
        F.posexplode(F.slice("sids", F.lit(1), prefix_len)).alias("pos0", "sid"),
    ).select("doc_id", "n", "sid", (F.col("pos0") + 1).alias("pos"))
    # PPJoin pruning inside the candidate join (both sound for J ≥ t):
    # - size filter: t ≤ n_a/n_b ≤ 1/t
    # - positional filter: at the first shared prefix token the remaining
    #   suffixes must still allow overlap α = ⌈t/(1+t)·(n_a+n_b)⌉
    na, nb = F.col("a.n"), F.col("b.n")
    alpha = F.ceil(F.lit(t_num) * (na + nb) / F.lit(float(t_num + t_den)))
    return (
        pref.alias("a")
        .join(pref.alias("b"), on="sid")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.lit(t_num) * nb <= F.lit(t_den) * na)
            & (F.lit(t_num) * na <= F.lit(t_den) * nb)
            & (F.least(na - F.col("a.pos"), nb - F.col("b.pos")) + 1 >= alpha)
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )


def _jaccard_verify(
    cand: DataFrame,
    docsets: DataFrame,
    n_docs: int,
    threshold: tuple[int, int],
    total_elems: int | None = None,
) -> DataFrame:
    """Exact ``|∩|/|∪|`` over candidate id-pairs → deduped
    ``(doc_a, doc_b, jaccard)`` rows with J ≥ t.

    Verification joins the per-doc set arrays onto the candidate pairs and
    counts the intersection JVM-side (array_intersect — no pair×shingle
    row blowup, no Python transfer of the pair stream).  The docset table
    grows with the corpus, so the broadcast is size-gated: below the row
    threshold the (large) pair stream is never shuffled; above it this
    degrades to a keyed shuffle join.  Candidates are NOT deduped first:
    re-verifying a duplicate pair is cheaper than shuffling the whole
    candidate stream for distinct — dedup runs on the verified
    (threshold-surviving) output instead.  (Callers that already hold a
    SMALL candidate subset — e.g. the cluster assembly's star pass — dedup
    before calling, which is then a cheap shuffle.)"""
    t_num, t_den = threshold
    sa = docsets.select(F.col("doc_id").alias("doc_a"), F.col("sids").alias("sa"), F.col("n").alias("n_a"))
    sb = docsets.select(F.col("doc_id").alias("doc_b"), F.col("sids").alias("sb"), F.col("n").alias("n_b"))
    if total_elems is not None and total_elems > _VERIFY_BC_MAX_ELEMS:
        pairs = cand.join(sa, on="doc_a").join(sb, on="doc_b")
    else:
        pairs = cand.join(broadcast_if_small(sa, known_count=n_docs), on="doc_a").join(
            broadcast_if_small(sb, known_count=n_docs), on="doc_b"
        )
    pairs = pairs.withColumn("n_inter", F.size(F.array_intersect("sa", "sb")).cast("long"))
    jac = pairs.select(
        "doc_a",
        "doc_b",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    )
    return jac.where(F.col("jaccard") >= F.lit(t_num) / F.lit(float(t_den))).dropDuplicates(
        ["doc_a", "doc_b"]
    )


def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: ``jaccard_pairs`` over the documents table."""
    return jaccard_pairs(load_table(spark, sf_dir, "documents"))


DEDUP_JACCARD_SQL = f"""
WITH sids AS ({duck_token_ngram_ids_cte(n=JACCARD_NGRAM)}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sids GROUP BY doc_id),
pref AS (
  SELECT doc_id, sid, pos, n FROM (
    SELECT s.doc_id, s.sid,
           ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY s.sid) AS pos,
           z.n
    FROM sids s JOIN sizes z USING (doc_id)
  ) WHERE pos <= n - FLOOR(({_T_NUM} * n + {_T_DEN - 1}) / {float(_T_DEN)}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b
    ON a.sid = b.sid AND a.doc_id < b.doc_id
   AND {_T_NUM} * b.n <= {_T_DEN} * a.n AND {_T_NUM} * a.n <= {_T_DEN} * b.n
   AND LEAST(a.n - a.pos, b.n - b.pos) + 1 >= CEIL({_T_NUM} * (a.n + b.n) / {float(_T_NUM + _T_DEN)})
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sids sa ON sa.doc_id = c.doc_a
  JOIN sids sb ON sb.doc_id = c.doc_b AND sb.sid = sa.sid
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (na.n + nb.n - n_inter) >= {JACCARD_THRESHOLD}
""".strip()


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def _simhash_bit(j: int) -> str:
    """Bit j of the SimHash draws from h_{j//16}(sid) bit (j mod 16) — two
    31-bit hash draws cover 32 independent fingerprint bits."""
    return f"(({hash_sql('sid', j // 16)} >> {j % 16}) & 1)"


def simhash_of(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) for ANY ``(doc_id, text)`` DataFrame: 32-bit
    SimHash over the shingle set — bit j is the sign of Σ ±1 where ± is a
    hash bit of the shingle.  Computed by the zero-shuffle Arrow kernel;
    docs without shingles fill 0."""
    out = simhash_fingerprints(docs, SIMHASH_BITS)
    return (
        docs.select("doc_id")
        .join(out, on="doc_id", how="left")
        .na.fill({"simhash": 0})
    )


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: ``simhash_of`` over the documents table."""
    return simhash_of(load_table(spark, sf_dir, "documents"))


def _duck_simhash() -> str:
    sums = ", ".join(
        f"SUM(2 * {_simhash_bit(j)} - 1) AS s{j}" for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
sids AS ({duck_shingle_ids_cte()}),
persum AS (SELECT doc_id, {sums} FROM sids GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM persum)""".strip()


SIMHASH_DOCS_SQL = f"""
WITH {_duck_simhash()}
SELECT d.doc_id, COALESCE(sh.simhash, 0) AS simhash
FROM (SELECT doc_id FROM documents) d LEFT JOIN sh USING (doc_id)
""".strip()


_SIMHASH_N_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
_SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """SimHash near-dup pairs for ANY ``(doc_id, text)`` DataFrame: bucket
    on 8-bit bands (a pair within hamming ≤ 3 of a 32-bit fingerprint
    shares ≥ 1 of 4 bands), verify exact hamming on candidates."""
    fps = simhash_of(docs)
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"(simhash >> {SIMHASH_BAND_BITS * b}) & {_SIMHASH_BAND_MASK}"
                        ).alias("nib"),
                    )
                    for b in range(_SIMHASH_N_BANDS)
                ]
            )
        ).alias("x"),
    ).select("doc_id", "simhash", F.col("x.band").alias("band"), F.col("x.nib").alias("nib"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.nib") == F.col("b.nib")))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.expr("cast(bit_count(ha ^ hb) as bigint)").alias("hamming"),
    ).where(F.col("hamming") <= SIMHASH_MAX_HAMMING)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: ``simhash_pairs`` over the documents table."""
    return simhash_pairs(load_table(spark, sf_dir, "documents"))


DEDUP_SIMHASH_SQL = f"""
WITH {_duck_simhash()},
bands AS (
  SELECT doc_id, simhash, i AS band,
         (simhash >> ({SIMHASH_BAND_BITS} * CAST(i AS INT))) & {_SIMHASH_BAND_MASK} AS nib
  FROM sh, range(0, {_SIMHASH_N_BANDS}) t(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS ha, b.simhash AS hb
  FROM bands a JOIN bands b ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING}
""".strip()


# --------------------------------------------------------------------------
# embedding-cosine near-duplicates (quantized-exact, LSH-bucketed)
# --------------------------------------------------------------------------
def quantize(emb: DataFrame) -> DataFrame:
    """(vec_id, qe: array<bigint>, nrm: bigint) for ANY ``(vec_id,
    embedding array<float/double>)`` DataFrame — FLOOR(x·10^6) quantization
    makes every dot product integer-exact and thus bit-identical across
    engines and partition orders."""
    qe = F.expr(f"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {EMB_QUANT}) AS BIGINT))")
    out = emb.select("vec_id", qe.alias("qe"))
    return out.select("vec_id", "qe", dot_udf()("qe", "qe").alias("nrm"))


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: ``quantize`` over the embeddings table."""
    return quantize(load_table(spark, sf_dir, "embeddings"))


#: (session id, sf_dir) -> persisted quantized embeddings corpus
_QUANTIZED_MEMO: dict = {}


def _shared_artifact(memo: dict, key, build, eager: bool = True) -> DataFrame:
    """Memoized persisted session artifact: return the cached frame if its
    persist is still live, re-persist it if an external clearCache dropped
    it, rebuild on a stale handle (dead session).  ``eager=False`` skips
    the materializing count — for an artifact some downstream artifact's
    own build consumes immediately (one job then fills every cache level
    instead of one job per artifact)."""
    df = memo.get(key)
    if df is not None:
        try:
            lvl = df.storageLevel
            if lvl.useMemory or lvl.useDisk:
                return df
            df = df.persist()
            if eager:
                df.count()
            return df
        except Exception:
            # stale handle (dead session) or un-probe-able storage level:
            # fall through and REBUILD — returning the broken frame would
            # either crash at first use or quietly lose the memo's point
            memo.pop(key, None)
    df = build().persist()
    if eager:
        df.count()
    memo[key] = df
    return df


def shared_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's persisted quantized-embeddings corpus — the
    build-the-index-once artifact every vector operator (embedding dedup,
    brute-force/LSH/IVF kNN) reads instead of re-running the quantize
    kernel per call.  Same open-artifact economics as ``TripleStore.shared``
    and ``warm_vector_indexes``; a deployment persists this table to
    storage.  Re-persists if an external clearCache dropped it."""
    return _shared_artifact(
        _QUANTIZED_MEMO,
        (id(spark), sf_dir),
        lambda: quantize(load_table(spark, sf_dir, "embeddings")),
    )


#: (session id, sf_dir) -> persisted (vec_id, tbl, bkt) LSH bucket table
_BUCKETS_MEMO: dict = {}


def shared_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's persisted corpus LSH bucket table — the second half of
    the open vector index (``shared_quantized`` is the first).  Embedding
    dedup and LSH kNN both probe the SAME (vec_id, tbl, bkt) corpus table,
    so recomputing the hyperplane kernel per call is pure waste; a
    deployment writes this table once per corpus version (it IS the
    incremental-dedup signature index, sources/sinks.py) and every query
    joins against it."""
    return _shared_artifact(
        _BUCKETS_MEMO,
        (id(spark), sf_dir),
        lambda: _bucket_ids(shared_quantized(spark, sf_dir)),
    )


def corpus_count(spark: SparkSession, sf_dir: str) -> int:
    """Embedding-corpus row count for broadcast gating — a parquet
    metadata-only count (no embedding column read, no UDF run)."""
    return load_table(spark, sf_dir, "embeddings").count()


def _bucket_ids(q: DataFrame, n_tables: int = 4, planes_per_table: int = 4) -> DataFrame:
    """(vec_id, tbl, bkt) — ids only: the candidate join must never shuffle
    the 64-element arrays (at 100 TB that is the difference between
    shuffling 8 bytes and 0.5 KB per bucket row).  Bucket ids come from one
    numpy matmul per Arrow batch (functions/vectors.py)."""
    b = q.select("vec_id", F.posexplode(buckets_udf(n_tables, planes_per_table)("qe")).alias("tbl", "bkt"))
    return b.select("vec_id", F.col("tbl").cast("int").alias("tbl"), "bkt")


def _rerank(
    cand: DataFrame, q: DataFrame, a_col: str, b_col: str, corpus_count: int | None = None
) -> DataFrame:
    """Join the quantized vectors back onto id-only candidate pairs and emit
    the exact cosine.  The vector table is orders of magnitude smaller than
    the candidate pair stream, but it still grows with the corpus, so the
    broadcast is size-gated: below the threshold the (large) pair side is
    never shuffled or sorted; above it this degrades to a keyed shuffle
    join.  ``corpus_count`` should be the cheap parquet-metadata count of
    the embeddings table (counting ``q`` itself would run its UDF column)."""
    qa = q.select(F.col("vec_id").alias(a_col), F.col("qe").alias("qa"), F.col("nrm").alias("na"))
    qb = q.select(F.col("vec_id").alias(b_col), F.col("qe").alias("qb"), F.col("nrm").alias("nb"))
    pairs = cand.join(broadcast_if_small(qa, known_count=corpus_count), on=a_col).join(
        broadcast_if_small(qb, known_count=corpus_count), on=b_col
    )
    pairs = pairs.withColumn("dot", dot_col("qa", "qb"))
    cos = F.expr(cos_sql("dot", "na", "nb"))
    return pairs.select(a_col, b_col, cos.alias("cos"))


def embedding_pairs(
    emb: DataFrame,
    corpus_count: int | None = None,
    quantized: DataFrame | None = None,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-dup pairs for ANY ``(vec_id, embedding)`` DataFrame:
    cosine ≥ τ among LSH-bucket candidates.

    4 tables × 4 hyperplanes: candidates collide in ≥1 table; exact
    (quantized-integer) cosine verifies.  Recall is the standard LSH
    tradeoff; the oracle replays the same buckets so both engines see the
    identical candidate set.

    ``quantized`` / ``buckets`` let the caller supply already-persisted
    index artifacts (``shared_quantized`` / ``shared_buckets``); the caller
    then owns those caches and this function neither re-persists nor
    releases them.
    """
    # persist + materialize the two Arrow-kernel outputs: q feeds three
    # downstream subtrees (buckets + both rerank sides) and b self-joins —
    # without a populated cache each subtree re-runs the pandas UDF over the
    # whole corpus (4× quantize, 2× buckets)
    own_q = quantized is None
    q = quantize(emb).persist() if own_q else quantized
    if own_q:
        q.count()
    own_b = buckets is None
    b = _bucket_ids(q).persist() if own_b else buckets
    if own_b:
        b.count()
    cand = (
        b.alias("a")
        .join(b.alias("b"), on=["tbl", "bkt"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    out = _rerank(cand, q, "vec_a", "vec_b", corpus_count=corpus_count).where(
        F.col("cos") >= EMB_COS_THRESHOLD
    )
    # materialize the (tiny, threshold-surviving) result, then RELEASE the
    # caches this call created — the library must not pin corpus-sized
    # per-call caches for the caller's session lifetime
    out = out.persist()
    out.count()
    if own_q:
        q.unpersist()
    if own_b:
        b.unpersist()
    return out


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: ``embedding_pairs`` over the session's
    shared quantized corpus and LSH bucket index (corpus count from parquet
    metadata for the broadcast gate)."""
    return embedding_pairs(
        load_table(spark, sf_dir, "embeddings"),
        corpus_count=corpus_count(spark, sf_dir),
        quantized=shared_quantized(spark, sf_dir),
        buckets=shared_buckets(spark, sf_dir),
    )


def _duck_quantized() -> str:
    return (
        f"q AS (SELECT vec_id, [CAST(FLOOR(CAST(x AS DOUBLE) * {EMB_QUANT}) AS BIGINT) FOR x IN embedding] AS qe"
        f" FROM embeddings),"
        f" qn AS (SELECT vec_id, qe, {dot_sql('qe', 'qe', duck=True)} AS nrm FROM q)"
    )


def _duck_buckets(n_tables: int = 4, planes_per_table: int = 4) -> str:
    rows = []
    for t in range(n_tables):
        bits = []
        for pp in range(planes_per_table):
            p = t * planes_per_table + pp
            dot = plane_dot_sql("qe", p, duck=True)
            bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << pp} ELSE 0 END)")
        rows.append(f"SELECT vec_id, {t} AS tbl, {' + '.join(bits)} AS bkt FROM qn")
    return "buckets AS (" + " UNION ALL ".join(rows) + ")"


_DUCK_COS_AB = cos_sql(dot_sql("qa.qe", "qb.qe", duck=True), "qa.nrm", "qb.nrm")

DEDUP_EMBEDDING_SQL = f"""
WITH {_duck_quantized()},
{_duck_buckets()},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, {_DUCK_COS_AB} AS cos
FROM cand JOIN qn qa ON qa.vec_id = vec_a JOIN qn qb ON qb.vec_id = vec_b
WHERE {_DUCK_COS_AB} >= {EMB_COS_THRESHOLD}
""".strip()


# --------------------------------------------------------------------------
# duplicate-cluster assembly (connected components)
# --------------------------------------------------------------------------
_CC_MAX_ITERS = 25
# rounds before the min-label loop starts pointer doubling: 3 neighbor-min
# rounds resolve any component of diameter <= 3 (the dup-clique shape)
# without doubling's extra join; past that, doubling covers diameter
# ~2^(25-3) before the cap — effectively any graph
_CC_DOUBLE_FROM = 3


# collect-to-driver threshold; conf-overridable via CC_SMALL_EDGES_CONF
_CC_SMALL_EDGES = DEFAULT_CC_SMALL_EDGES


def _unionfind_components(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Driver union-find over a collected edge list: (node, min reachable)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    label: dict[int, int] = {}
    for x in parent:
        r = find(x)
        label[r] = min(label.get(r, x), x)
    return sorted((x, label[find(x)]) for x in parent)


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", small_edges: int | None = None
) -> DataFrame:
    """Min-label propagation over an undirected edge list → (node, cluster)
    where cluster = smallest reachable node id.

    Size-adaptive physical choice, same philosophy as broadcast-vs-shuffle
    join: when the surviving near-dup edge list is small (it is the
    *verified-duplicate* set, orders of magnitude smaller than the corpus),
    2·diameter shuffle rounds cost more than one collect — run union-find
    on the driver.  Past _CC_SMALL_EDGES, iterate distributed: a
    driver-side loop over joins, converging in O(graph diameter) rounds,
    with an eager localCheckpoint per round to truncate lineage (without
    it the plan tree doubles every iteration).  This is the simplified
    form of the large-star/small-star CC algorithm used for dedup-cluster
    assembly.
    """
    if small_edges is None:
        small_edges = conf_int(edges.sparkSession, CC_SMALL_EDGES_CONF, _CC_SMALL_EDGES)
    # Materialize the DIRECTED edge list ONCE and TRUNCATE its lineage
    # before symmetrizing (eager localCheckpoint, not persist+count): the
    # union's two branches would otherwise race to compute the upstream
    # pipeline concurrently before a cache is populated, and — measured
    # r10, guide §7.2/§3.3 — every iteration round's action re-plans the
    # full upstream logical tree (for graph_components that is the
    # 7-table triple union + co-purchase joins: ~4 s per .rdd/action
    # compile, ~10 s of the entry's 15 s).  A checkpoint scan plans in
    # milliseconds; the rounds below then cost their shuffles, not their
    # plan compiles.
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint()
    n_edges = e.count()
    sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    if 2 * n_edges <= small_edges:
        rows = _unionfind_components([(r["a"], r["b"]) for r in sym.collect()])
        release_local_checkpoint(e)
        spark = edges.sparkSession
        # hand the driver-local result back through Arrow (pandas), NOT a
        # parallelized Python list: the list form deserializes via one
        # Python worker per partition — ~3 s of fork overhead for a
        # few-hundred-row frame
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["node", "cluster"], dtype="int64")
        return spark.createDataFrame(pdf, schema="node long, cluster long")
    # Right-size the iterative rounds, same contract as pagerank's loop: a
    # conf-less session's 200 shuffle partitions make each min-label round
    # pay hundreds of near-empty tasks, and the symmetrized union would
    # otherwise persist as 2× the upstream partition count and re-scan
    # them all every round.  Every round's frame is localCheckpoint-
    # materialized, so restoring the caller's conf afterwards cannot
    # change the returned plan.
    spark = edges.sparkSession
    restore_partitions = None
    loop_par = None
    try:
        par = spark.sparkContext.defaultParallelism
        loop_par = 2 * par
        current = spark.conf.get("spark.sql.shuffle.partitions")
        if int(current) > 4 * par:
            restore_partitions = current
            spark.conf.set("spark.sql.shuffle.partitions", str(loop_par))
    except Exception:
        pass  # locked confs (e.g. Connect): proceed with the session's value
    # finally-block restore: a failure ANYWHERE past the conf override —
    # including the plan-to-RDD conversion and persist below, not just the
    # iteration rounds — must not leak the loop's shuffle-partition
    # override or the caches into the session's unrelated later queries
    try:
        # the partition probe is a cheap checkpoint-scan plan now (the
        # pre-r10 form paid the full upstream plan compile just to learn
        # the count); e's partitioning is the upstream's, so 2x e = sym
        if loop_par is not None and 2 * e.rdd.getNumPartitions() > 2 * loop_par:
            # keyed repartition: locally just caps the per-round task count;
            # past the broadcast gate (a 100-TB graph) the b-partitioned
            # cache lets each round's label join reuse the partitioning
            # instead of re-shuffling the 2|E| rows (pagerank's
            # co-partitioned-superstep argument, guide §2.4)
            sym = sym.repartition(loop_par, "b")
        sym = sym.persist()
        # Round 0 FUSED into the init (r10): with initial label(x) = x the
        # first neighbor-min round is exactly least(a, min(b)) grouped by a
        # — one partial-aggregated pass over sym replaces the separate
        # node-set distinct (a full 2|E| aggregate that existed only to
        # write x=x labels) plus the first join round.  __old = a is the
        # initial label, so the convergence probe semantics are unchanged.
        #
        # Probe/count FUSED into the materializing action (r11): an
        # Observation on the pre-checkpoint frame is computed by the
        # localCheckpoint job itself, so the changed-label count and the
        # node count arrive with the round instead of costing a separate
        # scan job each — the per-round floor here is local job latency
        # (and at scale an extra full node-table pass), guide §1.5/§2.4.
        from pyspark.sql import Observation

        def _round_metrics():
            return (
                F.sum(F.when(F.col("label") != F.col("__old"), 1).otherwise(0)).alias(
                    "__changed"
                ),
                F.count(F.lit(1)).alias("__n"),
            )

        obs0 = Observation()
        labels = (
            sym.groupBy("a")
            .agg(F.min("b").alias("__nb"))
            .select(
                F.col("a").alias("node"),
                F.col("a").alias("__old"),
                F.least(F.col("a"), F.col("__nb")).alias("label"),
            )
            .observe(obs0, *_round_metrics())
        ).localCheckpoint()
        _m0 = obs0.get
        n_changed = int(_m0["__changed"] or 0)
        # The label frames are NODE-count-sized and — being checkpoint
        # scans — carry no usable size stats, so without a hint every
        # round sort-merge-joins them against the EDGE-sized sym (the
        # 2|E|-row shuffle was the measured round cost, r10; guide §3.1).
        # Size-gate the broadcast on the node count (known once, constant
        # across rounds): below the gate each round is a map-side
        # broadcast join + partial-agg and only node-sized rows shuffle;
        # past the gate (a 100-TB node table) it degrades to a keyed
        # shuffle join against the b-partitioned sym cache.
        from dream_spark.functions.joins import broadcast_if_small

        n_nodes = int(_m0["__n"] or 0)
        bcast = lambda df: broadcast_if_small(df, known_count=n_nodes)  # noqa: E731
        # handle to the checkpointed frame currently backing `labels`:
        # once the next round's frame materializes it is superseded, and
        # its blocks are released immediately instead of lingering until
        # driver GC (r9: resident checkpoint blocks taxed the next
        # same-session iterative job 1.5-2x at the 100x decade)
        labels_ckpt = labels
        converged = n_changed == 0
        for it in range(1, _CC_MAX_ITERS + 1):
            if converged:
                break
            cur = labels.select("node", "label")
            # ONE-AGGREGATE round (r10): the neighbor-label contributions
            # and the node's own label meet in a single partial-aggregated
            # union — min(label) is the new label, and the self row carries
            # the old one out for the next probe.  The pre-r10 form ran a
            # second node-keyed join (labels LEFT JOIN nbr_min) plus its
            # own broadcast build per round for the same result.
            obs = Observation()
            upd = sym.join(bcast(cur), sym.b == cur.node).select(
                F.col("a").alias("node"), "label", F.lit(False).alias("__self")
            )
            slf = cur.select("node", "label", F.lit(True).alias("__self"))
            half = (
                upd.unionByName(slf)
                .groupBy("node")
                .agg(
                    F.min("label").alias("label"),
                    F.max(F.when(F.col("__self"), F.col("label"))).alias("__old"),
                )
                .select("node", "__old", "label")
                .observe(obs, *_round_metrics())
            ).localCheckpoint()
            release_local_checkpoint(labels_ckpt)  # superseded by `half`
            # the round's own action computed the convergence flag (r11):
            # no per-round probe job, and no pre-doubling probe either —
            # a zero count here IS the neighbor-min fixed point
            n_changed = int(obs.get["__changed"] or 0)
            if n_changed == 0:
                labels, labels_ckpt = half, half
                converged = True
                break
            if it < _CC_DOUBLE_FROM:
                merged = half
            else:
                # pointer doubling: label ← label(label).  Neighbor-min
                # alone converges in O(diameter) rounds — a 100-long path
                # component (exactly what a per-doc min-partner star pass
                # emits for a 100-wide dup cluster) would need 100 rounds
                # and silently overrun _CC_MAX_ITERS.  The label-keyed
                # self-join shortcuts reach exponentially → O(log
                # diameter) rounds for ANY shape; it runs on the already-
                # checkpointed frame, so the subtree is never computed
                # twice.  Labels stay monotone min-reachable ids, so
                # plain coalesce (no least) is exact.  Doubling is purely
                # an ACCELERATOR, so the first _CC_DOUBLE_FROM rounds
                # skip it: low-diameter graphs (the near-dup clique case)
                # break the loop on neighbor-min alone without paying the
                # extra join + checkpoint per round.  After a doubled
                # round the next neighbor-min round always runs (doubling
                # cannot certify a fixed point), which the old top-of-loop
                # probe re-derived with a scan job every round.
                lk = half.select(F.col("node").alias("__ln"), F.col("label").alias("__ll"))
                merged = (
                    half.join(bcast(lk), half["label"] == lk["__ln"], "left")
                    .select("node", "__old", F.coalesce("__ll", "label").alias("label"))
                ).localCheckpoint()
                release_local_checkpoint(half)  # superseded by `merged`
            labels = merged
            labels_ckpt = merged
        if not converged:
            # 2^25 ≫ any real diameter: reaching here means a logic bug,
            # and unconverged labels are WRONG answers — fail loud.
            raise RuntimeError(
                f"connected_components failed to converge in {_CC_MAX_ITERS} rounds"
            )
        # every kept frame is localCheckpoint-materialized, so the restore
        # cannot change the returned plan
        return labels.select(F.col("node"), F.col("label").alias("cluster"))
    finally:
        sym.unpersist()
        release_local_checkpoint(e)
        if restore_partitions is not None:
            try:
                spark.conf.set("spark.sql.shuffle.partitions", restore_partitions)
            except Exception:
                pass


def duplicate_clusters(docs: DataFrame) -> DataFrame:
    """The full dedup pipeline for ANY ``(doc_id, text)`` DataFrame: group
    the verified (J ≥ 0.8) near-duplicate pairs into clusters; canonical
    keeper = min doc_id.  Output: (doc_id, cluster_id) for every clustered
    document.

    LABEL-PRUNED VERIFICATION — exactly the components of "CC over ALL
    verified candidate pairs" (the oracle's definition) without ever
    verifying the quadratic pair set.  On a corpus with k-wide near-dup
    clusters (template spam, mirrors — exactly what 100-TB web data looks
    like) the candidate/verified pair set grows as Σk²; the 100× scale
    probe measured the naive all-pairs form at 125× wall for 100× rows.
    Connectivity doesn't need every edge:

    1. STAR pass: per doc, verify only its minimum candidate partner.
       The groupBy's map-side partial min combines the quadratic candidate
       stream before the shuffle, so at most one row per (doc, partition)
       moves; a k-clique resolves into one component from its k−1 chain
       edges.
    2. Components over the verified star edges.
    3. REMAINDER pass: verify only candidates whose endpoints still sit in
       DIFFERENT phase-1 components (label join is broadcast-gated — the
       quadratic candidate stream is filtered map-side, never shuffled;
       the surviving remainder is small, so ITS distinct is cheap).

    Equality proof: every verified pair (a,b) is a candidate; if phase 1
    already connected a and b, dropping (a,b) can't change components; if
    not, (a,b) is in the remainder and gets verified.  Hence
    CC(star ∪ remainder) = CC(all verified pairs), for any data.

    Below the JACCARD_SMALL_DOCS_CONF gate the two-phase split is pure
    fixed-action overhead (the candidate stream is small anyway), so the
    small path is exactly ``CC(jaccard_pairs(docs))`` — which also keeps
    the verified-pair set plan-cache-shared with ``dedup_jaccard`` and
    every other consumer in the session, the way repeat bench/pipeline
    calls rely on.  Same components either way (tests force the scale
    path through the conf and oracle-match it)."""
    t = (_T_NUM, _T_DEN)
    # gate on the SAME measure jaccard_pairs gates on — kernel n-gram-set
    # rows — so the two operators can never take opposite physical paths
    # on one corpus (the cross-entry cache sharing below depends on that)
    raw = token_ngram_arrays(docs, JACCARD_NGRAM).persist()
    n_docs, total_sids = _docset_stats(raw)
    thr = conf_int(docs.sparkSession, JACCARD_SMALL_DOCS_CONF, _JACCARD_SMALL_DOCS)
    if n_docs <= thr:
        # jaccard_pairs' internal kernel frame is plan-identical to `raw`,
        # so it is served from this cache rather than recomputed
        edges = jaccard_pairs(docs, t).select("doc_a", "doc_b")
        cc = connected_components(edges, "doc_a", "doc_b")
        raw.unpersist()
        return cc.select(F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id"))
    docsets = _df_ordered(raw).persist()
    docsets.count()  # materialize before releasing the raw kernel cache
    raw.unpersist()
    cand = _jaccard_candidates(docsets, t).persist()
    # star partner = the min-id candidate.  (A "smarter" min-(matched-
    # position) key was measured 3× SLOWER end-to-end on the 100× probe
    # corpus: it half-merges each cluster into chain blobs, which makes
    # the final CC's graph shape worse without shrinking the remainder —
    # the remainder is FP-dominated and FPs are never prunable under
    # exact semantics.  Keep the cheap key; phase 1 is an opportunistic
    # optimization, phase 2 guarantees exactness either way.)
    star = cand.groupBy("doc_a").agg(F.min("doc_b").alias("doc_b"))
    e1 = _jaccard_verify(star, docsets, n_docs, t, total_sids).select("doc_a", "doc_b").persist()
    e1.count()  # materialize: e1 feeds BOTH the phase-1 CC and the final union
    labels = connected_components(e1, "doc_a", "doc_b")
    # an unlabeled doc's implicit cluster is itself; that can't collide
    # with a real label (cluster ids are member ids, so label(b) == a
    # implies a is labeled)
    la = labels.select(F.col("node").alias("doc_a"), F.col("cluster").alias("__ca"))
    lb = labels.select(F.col("node").alias("doc_b"), F.col("cluster").alias("__cb"))
    rem = (
        cand.join(broadcast_if_small(la), on="doc_a", how="left")
        .join(broadcast_if_small(lb), on="doc_b", how="left")
        .where(
            F.coalesce(F.col("__ca"), F.col("doc_a"))
            != F.coalesce(F.col("__cb"), F.col("doc_b"))
        )
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    e2 = _jaccard_verify(rem, docsets, n_docs, t, total_sids).select("doc_a", "doc_b")
    cc = connected_components(e1.unionAll(e2), "doc_a", "doc_b")
    docsets.unpersist()
    cand.unpersist()
    e1.unpersist()
    return cc.select(F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: ``duplicate_clusters`` over documents."""
    return duplicate_clusters(load_table(spark, sf_dir, "documents"))


def cluster_size_histogram(docs: DataFrame) -> DataFrame:
    """(cluster_size, n_clusters) distribution of the near-duplicate
    clusters — the dedup health readout (a fat tail here means template
    spam or a mirror site; all-2s means isolated copy pairs) that decides
    whether canonical selection is worth a features pass.  Two partial-agg
    shuffles over the duplicate-set-sized cluster table; output ≤ the
    largest cluster size in rows."""
    cc = duplicate_clusters(docs)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: near-dup cluster size histogram."""
    return cluster_size_histogram(load_table(spark, sf_dir, "documents"))


def lsh_duplicate_clusters(docs: DataFrame) -> DataFrame:
    """Duplicate clusters at the 100-TB operating point: connected
    components of "shares any MinHash band bucket", assembled from
    per-bucket STAR edges — (bucket-min doc, other doc) — instead of all
    bucket pairs.  Stars span each bucket, so the components are
    IDENTICAL to the all-pairs-in-bucket graph while the edge list stays
    ≤ N_BANDS rows per document: linear by construction, no verification
    stage, no Σ(cluster width)² term anywhere.

    This is the deliberate semantic trade against
    :func:`duplicate_clusters` (exact J ≥ 0.8 components): membership
    here is banding-probabilistic (P[bucket hit] = 1−(1−J^R)^B — the
    measured-recall band in tests/test_recall.py), which is what
    production web-dedup pipelines run, because the exact operator's
    verification work is Ω(distinct candidate pairs) and on a corpus of
    k-wide template clusters any pair-verified definition costs Σk².
    Output: (doc_id, cluster_id = min member id) for every document that
    shares a bucket with at least one other document."""
    cc = connected_components(_lsh_star_edges(docs), "doc_a", "doc_b")
    return cc.select(F.col("node").alias("doc_id"), F.col("cluster").alias("cluster_id"))


def _lsh_star_edges(docs: DataFrame) -> DataFrame:
    """Per-bucket star edge list (bucket-min doc → member doc), distinct.
    One window shuffle keyed by (band, bh) and NO join anywhere — the
    plan-shape contrast to :func:`minhash_pairs`' bucket self-join is
    what makes this the linear path (tests/test_plans.py pins it)."""
    from pyspark.sql import Window

    bands = _band_frame(minhash_signatures(docs, MINHASH_K))
    w = Window.partitionBy("band", "bh")
    return (
        bands.withColumn("__root", F.min("doc_id").over(w))
        .where(F.col("doc_id") != F.col("__root"))
        .select(F.col("__root").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: ``lsh_duplicate_clusters`` over documents."""
    return lsh_duplicate_clusters(load_table(spark, sf_dir, "documents"))


DEDUP_CLUSTERS_LSH_SQL = f"""
WITH RECURSIVE {_duck_minhash_bands()},
edges AS (
  SELECT DISTINCT MIN(doc_id) OVER (PARTITION BY band, bh) AS a, doc_id AS b
  FROM bands
  QUALIFY b != a
),
sym AS (
  SELECT a, b FROM edges
  UNION ALL
  SELECT b AS a, a AS b FROM edges
),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT s.a, r.r FROM sym s JOIN reach r ON r.node = s.b
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
""".strip()


# --------------------------------------------------------------------------
# incremental dedup: a persisted signature index + per-batch arrivals
# --------------------------------------------------------------------------
def minhash_index(docs: DataFrame) -> DataFrame:
    """The persistable signature index for incremental dedup:
    (doc_id, band, bh) MinHash-LSH band rows of ANY ``(doc_id, text)``
    DataFrame.  A deployment writes this with ``sinks.write_parquet``
    (bucketed by (band, bh) at scale so batch probes never shuffle the
    index) and unions each batch's kept rows back in."""
    return _band_frame(minhash_signatures(docs, MINHASH_K))


def incremental_minhash_dedup(
    new_docs: DataFrame, index: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """Dedup one arriving batch against a growing corpus WITHOUT re-running
    dedup over the world: returns ``(kept_ids, kept_band_rows)``.

    Rules (deterministic, order-independent within the batch):
    1. a new document sharing ANY LSH band with the index is a near-dup of
       the existing corpus → dropped;
    2. among the remaining batch documents, band-collision components keep
       only their minimum doc_id (the same canonical-keeper rule as
       ``duplicate_clusters``).

    Scale shape: the index probe is an equi-join on (band, bh) moving ids
    only; the within-batch step runs ``minhash_pairs``-style banding on the
    (small) batch.  Incremental dedup is ORDER-DEPENDENT across batches by
    design — the first-seen document wins, exactly like the streaming
    content-hash dedup (streaming/documents.py); a corpus-wide re-dedup is
    the batch compaction layer's job (``duplicate_clusters``)."""
    bands = minhash_index(new_docs).persist()
    bands.count()
    out = _incremental_from_bands(bands, index)
    bands.unpersist()
    return out


def _incremental_from_bands(
    bands: DataFrame, index: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """The drop/keep core of :func:`incremental_minhash_dedup`, over an
    already-persisted batch band frame — shared with the persisted-index
    serve path (:func:`dedup_minhash_served`), which computes the batch
    bands once for probe pruning and must apply the IDENTICAL rules to
    them.  The caller owns ``bands``' persistence."""
    if index is not None:
        # no distinct on the index side: duplicate (band, bh) index rows
        # only multiply hit rows, and the doc_id projection dedups below —
        # dropping it removes an index-scan-wide exchange (guide §2.4, a
        # distinct on data whose duplicates are harmless)
        hit = (
            bands.join(index.select("band", "bh"), on=["band", "bh"])
            .select("doc_id")
            .distinct()
        )
        fresh = bands.join(hit, on="doc_id", how="left_anti")
    else:
        fresh = bands
    fresh = fresh.persist()
    fresh.count()
    a, b = fresh.alias("a"), fresh.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    cc = connected_components(pairs, "doc_a", "doc_b")
    drop = cc.where(F.col("node") != F.col("cluster")).select(F.col("node").alias("doc_id"))
    kept_bands = fresh.join(drop, on="doc_id", how="left_anti").localCheckpoint()
    fresh.unpersist()
    return kept_bands.select("doc_id").distinct(), kept_bands


# --------------------------------------------------------------------------
# persisted-index incremental dedup serve (the missing "served" twin the
# BM25 postings and IVF inverted-file paths already have)
# --------------------------------------------------------------------------
#: max distinct (band, bh) probe pairs inlined as a literal pushdown
#: filter — the same bounded-collect contract as the BM25 narrow lookup's
#: <=1024 inline-IN probes; a wider batch falls back to the plain
#: (band, bh) equi-join, which is the at-scale default anyway
_SERVE_PROBE_BOUND = 1024


def save_minhash_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the corpus half's MinHash-LSH band index (doc_id, bh,
    band), ``partitionBy("band")`` — the on-disk layout every arriving
    batch probes.  Corpus = even doc_ids; odd doc_ids play the arriving
    batch in :func:`dedup_minhash_served` (the same split-the-table
    convention as the cross-source and contamination entries).  The index
    lands under ``{path}/bands`` — the artifact ROOT belongs to
    ``build_once_path`` (its COMPLETE marker lives there)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    # AQE-sized write (guide §6): rebalance by the partition column so a
    # band directory holds advisory-size files instead of one KB file per
    # write task that touched it (skewed bands split by AQE at scale)
    minhash_index(docs).hint("rebalance", "band").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(f"{path}/bands")


def _served_minhash_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once location of the persisted band index — keyed on the
    data path + documents parquet mtime + the SOURCE DIGEST of the whole
    signature pipeline (shingle → minhash → banding), so both regenerated
    testdata and changed index code self-invalidate (the r9 ADVICE
    pattern: no version constant anyone must remember to bump)."""
    import os

    from dream_spark.functions.artifacts import build_once_path, source_digest
    from dream_spark.functions import textkernels

    root = os.path.abspath(sf_dir)
    doc = os.path.join(root, "documents.parquet")
    sig = "|".join(
        [
            root,
            str(os.path.getmtime(doc) if os.path.exists(doc) else 0),
            f"mh{MINHASH_K}b{N_BANDS}",
            source_digest(
                save_minhash_index,
                minhash_index,
                _band_frame,
                _band_slot_hash,
                textkernels.minhash_signatures,
            ),
        ]
    )
    return build_once_path(sig, "mhindex", lambda tmp: save_minhash_index(spark, sf_dir, tmp))


def warm_minhash_index(spark: SparkSession, sf_dir: str) -> None:
    """Pre-build the persisted band index the serve entry probes, so a
    bench/probe row measures the steady-state serve, not the one-time
    index construction — the same setup economics as
    ``warm_postings_index`` / ``warm_vector_indexes``."""
    _served_minhash_index_path(spark, sf_dir)


def dedup_minhash_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup against a PERSISTED corpus index: the
    arriving batch (odd doc_ids) is deduped against the corpus half's
    on-disk band index (even doc_ids) and then within itself, returning
    the kept batch ``doc_id`` rows — the steady-state ingestion loop a
    100-TB corpus actually runs (never re-dedup the world; probe the
    index, admit survivors, append their bands).

    Scale shape: the index is read back from its ``partitionBy("band")``
    layout and, when the batch's distinct (band, bh) probe set fits the
    ``_SERVE_PROBE_BOUND`` bounded-collect contract, filtered with
    literal per-band ``bh IN (...)`` predicates that reach the parquet
    scan as ``PushedFilters`` — row-group skipping turns the corpus-index
    scan into a probe-sized read, the same narrow-serve economics as
    ``text_bm25_lookup``.  Wider batches fall back to the plain
    (band, bh) equi-join (ids and hashes only move; at deployment scale
    the index is additionally bucketed by (band, bh) via
    ``sinks.write_bucketed`` so that join does not shuffle the index).
    Pruning is an OPTIMIZATION, not a semantics change: dropped index
    rows share no (band, bh) with any batch row, so they can never
    produce a hit — pinned by the A/B equivalence test
    (tests/test_dedup.py)."""
    path = _served_minhash_index_path(spark, sf_dir)
    index = spark.read.parquet(f"{path}/bands")
    batch = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 1)
    bands = minhash_index(batch).persist()
    bands.count()
    kept_ids, _kept_bands = _incremental_from_bands(
        bands, _probe_pruned_index(index, bands)
    )
    bands.unpersist()
    return kept_ids


def _probe_pruned_index(index: DataFrame, bands: DataFrame) -> DataFrame:
    """Restrict the persisted band index to the batch's probe set when it
    fits the bounded-collect contract: literal per-band ``bh IN (...)``
    predicates reach the parquet scan as PushedFilters (row-group
    skipping) and the ``band =`` arms prune the partition directories —
    plan-pinned by tests/test_plans.py.  Past the bound, the full index
    joins on (band, bh) as usual.  Equivalence: a dropped row shares no
    (band, bh) with any batch row, so it can never produce a hit."""
    # ONE bounded action decides and fetches: collect at most bound+1
    # distinct probes — the extra row is the over-bound signal, so the
    # decision does not need a separate count() job
    rows = bands.select("band", "bh").distinct().limit(_SERVE_PROBE_BOUND + 1).collect()
    if len(rows) > _SERVE_PROBE_BOUND:
        return index
    by_band: dict = {}
    for r in rows:
        by_band.setdefault(r["band"], []).append(r["bh"])
    cond = None
    for b, hs in sorted(by_band.items()):
        c = (F.col("band") == F.lit(b)) & F.col("bh").isin(hs)
        cond = c if cond is None else (cond | c)
    return index.where(cond) if cond is not None else index.limit(0)


DEDUP_MINHASH_SERVED_SQL = f"""
WITH RECURSIVE {_duck_minhash_bands()},
idx AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
bat AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
hit AS (SELECT DISTINCT b.doc_id FROM bat b
        JOIN idx i ON b.band = i.band AND b.bh = i.bh),
fresh AS (SELECT * FROM bat WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
fpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM fresh a JOIN fresh b
           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
fsym AS (SELECT doc_a AS a, doc_b AS b FROM fpairs
         UNION ALL SELECT doc_b AS a, doc_a AS b FROM fpairs),
freach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM fsym)
  UNION
  SELECT s.a, r.r FROM fsym s JOIN freach r ON r.node = s.b
),
flabels AS (SELECT node, MIN(r) AS cluster FROM freach GROUP BY node)
SELECT DISTINCT doc_id FROM fresh
WHERE doc_id NOT IN (SELECT node FROM flabels WHERE node <> cluster)
""".strip()


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
{DEDUP_JACCARD_SQL}
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
  UNION
  SELECT s.a, r.r FROM sym s JOIN reach r ON r.node = s.b
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
""".strip()


DEDUP_CLUSTER_SIZES_SQL = f"""
WITH clusters AS ({DEDUP_CLUSTERS_SQL}),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id)
SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes GROUP BY cluster_size
""".strip()


def cross_source_pairs(docs: DataFrame) -> DataFrame:
    """MinHash near-dup pairs whose two documents come from DIFFERENT
    sources — the train/eval leakage detector (a benchmark doc mirrored
    into a crawl source is exactly a cross-source near-dup).  Pipeline:
    the standard banded candidate stream (ids only), then each side's
    source joined back and unequal-source pairs kept with both sources in
    the output.  The source table is a (doc_id, source) projection — tiny
    relative to text, broadcast-able at any corpus size where the id list
    fits an executor; past that it's two id-keyed equi-joins."""
    pairs = minhash_pairs(docs)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    return (
        pairs.join(a, on="doc_a")
        .join(b, on="doc_b")
        .where(F.col("source_a") != F.col("source_b"))
        .select("doc_a", "doc_b", "source_a", "source_b")
    )


def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: cross-source near-dup pairs over the
    documents table."""
    return cross_source_pairs(load_table(spark, sf_dir, "documents"))


DEDUP_CROSS_SOURCE_SQL = f"""
WITH {_duck_minhash_bands()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b, da.source AS source_a, db.source AS source_b
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
WHERE da.source <> db.source
""".strip()


# --------------------------------------------------------------------------
# exact substring-span dedup (cross-document duplicated token n-grams)
# --------------------------------------------------------------------------
# Span length in tokens.  Exact-substring dedup (the "dedup makes language
# models better" recipe) flags long verbatim repeats ACROSS documents —
# boilerplate, licenses, mirrored passages — that set-level Jaccard/MinHash
# miss when the surrounding document differs.  8 consecutive tokens is long
# enough that natural re-use is rare and short enough that every planted
# near-dup shares many spans.
SPAN_N = 8


def span_frames(docs: DataFrame, n: int = SPAN_N) -> tuple[DataFrame, DataFrame]:
    """(spans, dup) for ANY ``(doc_id, text)`` DataFrame: ``spans`` =
    distinct (doc_id, sid) token ``n``-gram span ids from the zero-shuffle
    Arrow kernel; ``dup`` = (sid, n_docs) for spans occurring in >= 2
    DISTINCT documents.

    Scale shape: the span stream is corpus-token-sized (one row per token
    position, map-side), and the only shuffle is the sid-keyed count with
    map-side partial aggregation — the canonical distributed form of
    suffix-style exact-substring dedup, with the suffix array replaced by
    fixed-length span hashing (no global sort, mergeable at any scale).
    Only 16-byte id rows ever move."""
    from dream_spark.functions.textkernels import token_ngram_sets

    spans = token_ngram_sets(docs, n)
    dup = (
        spans.groupBy("sid")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    return spans, dup


def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: the cross-document duplicated span table
    (span_id, n_docs) over ``documents`` — every 8-token sequence that
    appears verbatim in two or more documents."""
    _, dup = span_frames(load_table(spark, sf_dir, "documents"))
    return dup.select(F.col("sid").alias("span_id"), "n_docs")


DEDUP_SPANS_SQL = f"""
WITH grams AS ({duck_token_ngram_ids_cte('documents', SPAN_N)})
SELECT sid AS span_id, COUNT(*) AS n_docs
FROM grams GROUP BY sid HAVING COUNT(*) >= 2
""".strip()


def pipeline_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage: (doc_id, n_spans,
    n_dup_spans) — how many of a document's distinct 8-token spans appear
    verbatim in some OTHER document.  The per-doc quality gate built on
    :func:`span_frames` (a curation pass drops or trims documents whose
    coverage is high); documents shorter than 8 tokens have no spans and
    no row, on both engines.

    The flag join is sid-keyed (duplicated-span table vs the span stream);
    the dup side is output-sized, far smaller than the corpus stream, and
    Catalyst/AQE broadcasts it when it fits."""
    spans, dup = span_frames(load_table(spark, sf_dir, "documents"))
    flagged = spans.join(
        dup.select("sid", F.lit(1).alias("is_dup")), on="sid", how="left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_spans"),
    )


PIPELINE_DUP_SPANS_SQL = f"""
WITH grams AS ({duck_token_ngram_ids_cte('documents', SPAN_N)}),
dup AS (SELECT sid FROM grams GROUP BY sid HAVING COUNT(*) >= 2)
SELECT g.doc_id, COUNT(*) AS n_spans,
       CAST(COUNT(d.sid) AS BIGINT) AS n_dup_spans
FROM grams g LEFT JOIN dup d ON d.sid = g.sid
GROUP BY g.doc_id
""".strip()


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_exact_docs": dedup_exact_docs,
    "dedup_minhash": dedup_minhash,
    "dedup_minhash_served": dedup_minhash_served,
    "dedup_cross_source": dedup_cross_source,
    "dedup_jaccard": dedup_jaccard,
    "simhash_docs": simhash_docs,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding": dedup_embedding,
    "dedup_clusters": dedup_clusters,
    "dedup_cluster_sizes": dedup_cluster_sizes,
    "dedup_clusters_lsh": dedup_clusters_lsh,
    "dedup_spans": dedup_spans,
    "pipeline_dup_spans": pipeline_dup_spans,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_exact_docs": DEDUP_EXACT_DOCS_SQL,
    "dedup_minhash": DEDUP_MINHASH_SQL,
    "dedup_minhash_served": DEDUP_MINHASH_SERVED_SQL,
    "dedup_cross_source": DEDUP_CROSS_SOURCE_SQL,
    "dedup_jaccard": DEDUP_JACCARD_SQL,
    "simhash_docs": SIMHASH_DOCS_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_embedding": DEDUP_EMBEDDING_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_cluster_sizes": DEDUP_CLUSTER_SIZES_SQL,
    "dedup_clusters_lsh": DEDUP_CLUSTERS_LSH_SQL,
    "dedup_spans": DEDUP_SPANS_SQL,
    "pipeline_dup_spans": PIPELINE_DUP_SPANS_SQL,
}
