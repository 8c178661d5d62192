"""Round-7 second batch: corpus-lifecycle operators for the LLM-data
pipeline surface (SURVEY.md §2.10 extensions).

Three keys covering the ingestion-and-release lifecycle around the
existing dedup/curation operators, each with a bit-exact DuckDB oracle:

- ``ext_dup_ngram_coverage`` — per-document duplicate-n-gram fraction
  (the CC-Net / Gopher "dup-ness" signal): what share of a doc's word
  trigrams also appear in another document. The scoring complement to the
  binary keep/drop dedup operators — pipelines THRESHOLD this score.
- ``ext_dedup_incremental`` — incremental-ingestion dedup: a new batch is
  checked against the existing corpus by content digest, so re-crawls
  and refreshes don't re-admit what the corpus already holds.
- ``ext_train_split_hash`` — deterministic hash-based train/val/test
  assignment with a per-(split, lang) audit rollup. Like
  ``ext_sample_hashrank``, md5-of-key assignment reproduces bit-identically
  on any engine and any cluster size — no RNG state to ship.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..tables import load
from .llm_pipeline import _CORPUS_SQL, _corpus_with_dups

# --- ext_dup_ngram_coverage -------------------------------------------------

_DUP_NGRAM_ORACLE = f"""
WITH corpus AS ({_CORPUS_SQL}),
tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM corpus
  WHERE len(string_split(text, ' ')) >= 3
),
tri AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
           AS g
  FROM tok
),
df AS (SELECT g, COUNT(*) AS docs FROM tri GROUP BY g)
SELECT doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(SUM(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS dup_frac
FROM tri JOIN df USING (g)
GROUP BY doc_id
"""


@query("ext_dup_ngram_coverage", oracle=_DUP_NGRAM_ORACLE, tier=3)
def ext_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate-n-gram coverage: the fraction of a doc's
    DISTINCT word trigrams that appear in at least one OTHER document
    (shingle doc-frequency >= 2). This is the graded dup-ness score
    CC-Net/Gopher-style pipelines threshold on, complementing the binary
    keep/drop operators (ext_dedup_hash keeps one exact copy;
    ext_neardup_* flag near-pairs): a doc that is 60% boilerplate scores
    0.6 here and can be down-weighted instead of dropped.

    Shape: distinct (doc, shingle) pairs -> shingle doc-frequency
    (groupBy g) -> join back on g (reuses the g-partitioning from the
    aggregate, no extra exchange) -> per-doc rollup. Shingles cross the
    exchanges as xxhash64 LONGS, never strings (the ext_decontaminate
    stance: the oracle keeps raw strings — per-doc counts agree because
    64-bit hashing is injective on any real corpus slice; a collision at
    ~1e5 distinct shingles has probability ~2e-10 and would surface as a
    hash-mismatch, not silence). Measured ~15% off the key's wall time
    at sf0.1; at 100 TB it's the difference between shuffling 8-byte
    keys and ~40-byte strings. For the doc-frequency map itself, swap in
    a bloom/count-min prefilter over df>=2 shingles at extreme scale
    (ext_bloom_decontaminate pattern) — the per-doc rollup is unchanged.
    The dup fraction divides two exact integers in one IEEE op,
    identical in both engines."""
    corpus = _corpus_with_dups(spark, sf_dir)
    toks = corpus.select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 3)
    tri = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2), "
                    "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),"
                    " element_at(t, i + 2)))"
                )
            ).alias("gs"),
        )
        .select("doc_id", F.xxhash64("gs").alias("g"))
        .distinct()
    )
    df_counts = tri.groupBy("g").agg(F.count(F.lit(1)).alias("docs"))
    dup = F.when(F.col("docs") >= 2, 1).otherwise(0)
    return (
        tri.join(df_counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(dup).alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup",
            (F.col("n_dup").cast("double") / F.col("n_shingles")).alias(
                "dup_frac"
            ),
        )
    )


# --- ext_dedup_incremental --------------------------------------------------

#: Incoming-batch re-tag offset: distinct from llm_pipeline._COPY_OFFSET so
#: batch ids never collide with either the base corpus or its dup copies.
_BATCH_OFFSET = 2_000_000

_INCR_ORACLE = f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
batch AS (
  SELECT doc_id + {_BATCH_OFFSET} AS batch_doc_id, text
  FROM documents WHERE doc_id % 3 = 0
),
digests AS (
  SELECT sha256(text) AS digest, MIN(doc_id) AS first_doc_id,
         COUNT(*) AS n_corpus
  FROM corpus GROUP BY digest
)
SELECT batch_doc_id,
       b.digest AS digest,
       d.first_doc_id IS NOT NULL AS is_dup,
       d.first_doc_id AS matched_doc_id,
       COALESCE(d.n_corpus, 0) AS n_corpus_copies
FROM (SELECT batch_doc_id, sha256(text) AS digest FROM batch) b
LEFT JOIN digests d USING (digest)
"""


@query("ext_dedup_incremental", oracle=_INCR_ORACLE, tier=3)
def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: an incoming batch (re-tagged slice of
    the fixture, doc_id % 3 == 0) is checked against the EXISTING corpus
    (doc_id % 2 == 0) by sha256 content digest; every-6th doc is in both
    slices, so the output mixes genuine dups with genuinely new docs.
    This is the ingestion-time shape of dedup — ext_dedup_hash rebuilds
    the keep-set over the whole corpus, this admits a day's crawl against
    it without touching settled data.

    Shape: corpus reduces to one row per digest (min keeper +
    multiplicity), then a LEFT join keyed on 32-byte digests — never
    text. At 100 TB the digest table is the corpus's standing dedup
    index: keep it bucketed by digest so each incremental batch joins
    co-located, and front it with a bloom filter broadcast
    (ext_bloom_decontaminate pattern) so the overwhelmingly-new crawl
    skips the shuffle for non-hits."""
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + _BATCH_OFFSET).alias("batch_doc_id"),
        F.sha2("text", 256).alias("digest"),
    )
    digests = corpus.groupBy(F.sha2("text", 256).alias("digest")).agg(
        F.min("doc_id").alias("first_doc_id"),
        F.count(F.lit(1)).alias("n_corpus"),
    )
    return batch.join(digests, "digest", "left").select(
        "batch_doc_id",
        "digest",
        F.col("first_doc_id").isNotNull().alias("is_dup"),
        F.col("first_doc_id").alias("matched_doc_id"),
        F.coalesce("n_corpus", F.lit(0)).alias("n_corpus_copies"),
    )


# --- ext_train_split_hash ---------------------------------------------------

_SPLIT_SALT = ":bdl-split-7"

_SPLIT_ORACLE = f"""
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN substr(h, 1, 1) < 'c' THEN 'train'
              WHEN substr(h, 1, 1) < 'e' THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT lang, n_chars,
           md5(CAST(doc_id AS VARCHAR) || '{_SPLIT_SALT}') AS h
    FROM documents
  )
)
SELECT split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
FROM assigned
GROUP BY split, lang
"""


@query("ext_train_split_hash", oracle=_SPLIT_ORACLE, tier=3)
def ext_train_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-free hash: the
    first hex digit of md5(doc_id || salt) buckets each doc 12/2/2
    sixteenths into train/val/test. md5 of the same string is
    bit-identical in every engine, so the SAME split reproduces across
    Spark, DuckDB, and any cluster size or partitioning — the
    reproducibility `randomSplit(weights, seed)` cannot give (its output
    depends on partition layout). Changing the salt redraws the split;
    membership is decidable per-row with no global state, so a 100 TB
    corpus splits in one map-only pass and any downstream job can
    re-derive membership instead of materializing it.

    The returned frame is the audit rollup (per split x lang doc and char
    counts — the balance check run before training); the assignment
    itself is the map-side CASE and composes into any query."""
    d = load(spark, sf_dir, "documents")
    first = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_SPLIT_SALT))),
        1,
        1,
    )
    split = (
        F.when(first < "c", "train").when(first < "e", "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_sum"),
        )
    )


# --- ext_domain_mix_temperature ---------------------------------------------

_MIX_TARGET = 100
_MIX_SALT = ":bdl-mix-7"

# alpha = 0.5 (sqrt temperature): quotas flatten the natural skew toward
# low-resource domains. Every arithmetic step is made order-insensitive and
# engine-exact: sqrt is IEEE-correctly-rounded in both engines, the weight
# is floor-quantized to a 6dp BIGINT before any summation (so the total is
# an exact integer sum, immune to reduction order), and the quota is a pure
# integer floor division.
_MIX_ORACLE = f"""
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
w AS (
  SELECT lang, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
           AS wq
  FROM c
),
tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS tw FROM w),
q0 AS (
  SELECT lang, n,
         ({_MIX_TARGET} * wq) // tw AS q0,
         ({_MIX_TARGET} * wq) % tw AS rem
  FROM w, tot
),
short AS (SELECT {_MIX_TARGET} - SUM(q0) AS r FROM q0),
quota AS (
  SELECT lang, n,
         q0 + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) <= r
                   THEN 1 ELSE 0 END AS quota
  FROM q0, short
),
ranked AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '{_MIX_SALT}'), doc_id
         ) AS BIGINT) AS rn
  FROM documents
)
SELECT r.doc_id, r.lang, r.rn, q.quota, q.n AS n_domain
FROM ranked r JOIN quota q USING (lang)
WHERE r.rn <= q.quota
"""


@query("ext_domain_mix_temperature", oracle=_MIX_ORACLE, tier=3)
def ext_domain_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing (alpha = 0.5): per-language sample
    quotas proportional to sqrt(domain size), members drawn by md5 hash
    rank — the standard multilingual/data-mix flattening (up-weight
    low-resource domains relative to raw proportions) made fully
    DETERMINISTIC: same quotas and same members on any engine at any
    parallelism. ext_domain_mix_sample rate-matches domains to the
    smallest; this key implements the graded alpha-temperature policy a
    training mix actually ships with.

    Exactness: sqrt is correctly rounded IEEE in both engines; weights
    floor-quantize to 6dp BIGINTs BEFORE the total (integer sum — no
    float reduction order), and quotas are integer floor division PLUS a
    deterministic largest-remainder pass (ADVICE r7): floor quotas alone
    undershoot the target by up to n_domains-1, so the shortfall
    r = TARGET - sum(floor quotas) is redistributed +1 to the r domains
    with the largest integer remainders (tie-break: lang asc) — Hamilton
    apportionment, every step integer-exact, so sum(quota) == TARGET
    whenever every quota stays within its domain size. The member draw
    reuses the ext_sample_hashrank mechanics (md5 rank per domain, salt
    redraws).

    Shape: one tiny domain-count aggregate, a 1-row quantized-weight
    total broadcast back, an O(n_domains)-row remainder-rank window
    (single partition by construction — the quota frame is one row per
    language), one window shuffle of (doc_id, lang) for the rank —
    payloads never move. At 100 TB the rank uses the same bucket-salt
    merge as ext_sample_hashrank for huge domains."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w = c.select(
        "lang",
        "n",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1000000.0 + F.lit(0.5))
        .cast("long")
        .alias("wq"),
    )
    tot = w.agg(F.sum("wq").alias("tw"))
    q0 = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n").alias("n_domain"),
        F.expr(f"({_MIX_TARGET} * wq) div tw").alias("q0"),
        F.expr(f"({_MIX_TARGET} * wq) % tw").alias("rem"),
    )
    short = q0.agg((F.lit(_MIX_TARGET) - F.sum("q0")).alias("r"))
    rem_rank = F.row_number().over(
        W.orderBy(F.col("rem").desc(), F.col("lang").asc())
    )
    quota = (
        q0.crossJoin(F.broadcast(short))
        .withColumn("boost", (rem_rank <= F.col("r")).cast("long"))
        .select(
            "lang",
            "n_domain",
            (F.col("q0") + F.col("boost")).alias("quota"),
        )
    )
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_MIX_SALT)))
    win = W.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = d.select(
        "doc_id", "lang", F.row_number().over(win).cast("long").alias("rn")
    )
    return (
        ranked.join(F.broadcast(quota), "lang")
        .filter(F.col("rn") <= F.col("quota"))
        .select("doc_id", "lang", "rn", "quota", "n_domain")
    )


# --- ext_dup_ngram_bloom ------------------------------------------------------

#: Bloom geometry: m = 2^20 bits packed into 16384 64-bit words, k = 5
#: probes. At the fixture's dup-shingle cardinality (~1e4) the false-positive
#: rate is ~(1 - e^(-kn/m))^k ~= 2e-7; at 100 TB you re-size m to the
#: dup-shingle count and the bitmap still broadcasts (m bits regardless of
#: corpus size) while a raw dup-shingle set no longer would.
_DNB_M = 16384 * 64
_DNB_K = 5


def _dnb_positions(gram_hash):
    """k probe positions off ONE xxhash64, Kirsch-Mitzenmacher style
    (h1 + i*h2 with h2 forced odd) — same construction as
    curation._bloom_positions, parameterized by this operator's geometry."""
    h1 = F.pmod(gram_hash, F.lit(_DNB_M))
    h2 = F.pmod(F.shiftrightunsigned(gram_hash, 20), F.lit(_DNB_M))
    h2 = h2 + (1 - F.pmod(h2, F.lit(2)))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(_DNB_M)).cast("int")
        for i in range(_DNB_K)
    ]


#: Regime cut for the adaptive path pick (VERDICT r8 #5): the bloom probe
#: only pays for itself when it FILTERS — below this duplicate-ROW fraction
#: (share of (doc, shingle) rows whose shingle has df >= 2) the probe strips
#: >= 90% of the verify join's input and the bitmap path wins; above it most
#: rows survive the probe anyway, so the probe is pure overhead on top of
#: the same join and the exact join-back wins. Measured on this fixture:
#: dup_row_frac = 0.755 (sf0.01) / 0.999 (sf0.1) — deep in the exact
#: regime, matching the r8 bench (bloom ~2x the exact sibling HERE).
_DNB_REGIME_CUT = 0.10


@query("ext_dup_ngram_bloom", oracle=_DUP_NGRAM_ORACLE, tier=3)
def ext_dup_ngram_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ext_dup_ngram_coverage`` through a regime-adaptive duplicate
    probe — the 100 TB swap that operator's docstring promises (VERDICT
    r7 #5), with the IDENTICAL exact answer on either path (same oracle;
    bloom==exact==adaptive pinned in tests/test_round8.py and
    tests/test_round9.py).

    Two physical plans, one measured pick (the ext_dedup_cluster
    measured-size pattern, r8 VERDICT #5), decided by the duplicate-ROW
    fraction — the share of (doc, shingle) rows whose shingle has
    df >= 2, i.e. exactly the fraction of the probe's input that would
    SURVIVE a bloom test:

    - **bloom path** (dup_row_frac < 0.10, the production-corpus usual
      case): df>=2 shingles reduce to a FIXED-SIZE bitmap
      (groupBy(word index).bit_or(mask), <= 16384 rows) that broadcasts;
      every (doc, shingle) row is probed with k map-side bit tests; only
      bloom-positive rows (true duplicates + ~2e-7 false positives)
      enter the exact verification join. No false negatives, so per-doc
      counts are exact after verification — the verify join moves a few
      percent of the shingle table instead of all of it.
    - **exact path** (dup_row_frac >= 0.10, THIS fixture: 0.755 at
      sf0.01, 0.999 at sf0.1): when most rows would survive the probe
      anyway, the bitmap build + k bit tests buy nothing — the plan
      collapses to the exact sibling's single-pass join-back, so the
      adaptive key is never the slower plan on either regime (the r8
      bench showed the always-bloom form ~2x the exact sibling on this
      worst-case fixture).

    The statistic is estimated from a 1/16 KEY-SPACE sample
    (pmod(g, 16) = 0 pushed below the distinct): every occurrence of a
    shingle shares its hash, so the sampled stratum sees each of its
    shingles' doc-frequencies EXACTLY — no df underestimation, unlike
    row sampling — and the ratio estimator is unbiased across strata.
    The decision is then memoized per (corpus directory, parquet
    mtime+size fingerprint) for the life of the process — a corpus
    regenerated at the same path re-probes (ADVICE r9), matching the
    staleness rule of table statistics: the regime is a property of the
    CORPUS (index-build metadata in production), not of the query,
    so repeat invocations plan directly (one ~1/16-cost action per
    corpus, amortized to zero across a session; the bench's min-of-N
    warm runs therefore measure the chosen plan itself).

    Per-doc totals (n_shingles) come from the pre-probe frame, so docs
    with zero duplicate shingles still emit their row, exactly as the
    plain groupBy does."""
    return _dup_ngram_rollup(spark, sf_dir, force=None)


#: Memoized regime pick per corpus (see docstring: corpus statistic, not
#: query state). Keyed on (sf_dir, documents-parquet fingerprint) so a
#: corpus regenerated at the same path invalidates the pick (ADVICE r9)
#: — same staleness rule table statistics follow. Tests clear/seed it via
#: _dup_ngram_rollup(force=...).
_DNB_REGIME_CACHE: dict[tuple[str, tuple[int, int]], str] = {}


def _corpus_fingerprint(sf_dir: str, table: str = "documents") -> tuple[int, int]:
    """(mtime_ns, size) of a fixture table — file or directory of part
    files — folded to a pair; cheap enough to stat per invocation."""
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(p)
        if not os.path.isdir(p):
            return (st.st_mtime_ns, st.st_size)
        mt = sz = 0
        for root, _dirs, files in os.walk(p):
            for f in files:
                s = os.stat(os.path.join(root, f))
                mt = max(mt, s.st_mtime_ns)
                sz += s.st_size
        return (mt, sz)
    except OSError:
        return (0, 0)


def _dup_ngram_rollup(
    spark: SparkSession, sf_dir: str, force: str | None = None
) -> DataFrame:
    """Shared body; ``force`` pins a path ("bloom" / "exact") for tests."""
    from ..session import scoped_persist

    corpus = _corpus_with_dups(spark, sf_dir)
    toks = corpus.select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 3)
    # lazy plan: the hashed distinct (doc, shingle) frame; persisted ONLY
    # on the bloom path (three consumers there; the exact path is a
    # single linear pass and a persist would just add a materialization)
    tri_plan = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2), "
                    "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),"
                    " element_at(t, i + 2)))"
                )
            ).alias("gs"),
        )
        .select("doc_id", F.xxhash64("gs").alias("g"))
        .distinct()
    )

    memo_key = (sf_dir, _corpus_fingerprint(sf_dir))
    path = force or _DNB_REGIME_CACHE.get(memo_key)
    if path is None:
        # 1/16 key-space sample: filter on the grouping column pushes
        # below the distinct, so this action shuffles ~1/16 of the rows
        sample = (
            tri_plan.filter(F.pmod("g", F.lit(16)) == 0)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("docs"))
        )
        m = sample.agg(
            F.sum("docs").alias("rows"),
            F.sum(
                F.when(F.col("docs") >= 2, F.col("docs")).otherwise(0)
            ).alias("dup_rows"),
        ).first()
        rows = m["rows"] or 0
        frac = (m["dup_rows"] or 0) / rows if rows else 0.0
        path = "exact" if frac >= _DNB_REGIME_CUT else "bloom"
        _DNB_REGIME_CACHE[memo_key] = path

    if path == "exact":
        # the exact sibling's plan verbatim: one join back to the df
        # aggregate (reuses its g-partitioning), one per-doc rollup
        dfc = tri_plan.groupBy("g").agg(F.count(F.lit(1)).alias("docs"))
        dup = F.when(F.col("docs") >= 2, 1).otherwise(0)
        return (
            tri_plan.join(dfc, "g")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_shingles"),
                F.sum(dup).alias("n_dup"),
            )
            .select(
                "doc_id",
                "n_shingles",
                "n_dup",
                (F.col("n_dup").cast("double") / F.col("n_shingles")).alias(
                    "dup_frac"
                ),
            )
        )

    tri = scoped_persist(tri_plan)
    dup_keys = (
        tri.groupBy("g")
        .agg(F.count(F.lit(1)).alias("docs"))
        .filter(F.col("docs") >= 2)
        .select("g")
    )

    pos = F.explode(F.array(*_dnb_positions(F.col("g")))).alias("pos")
    _mask = "shiftleft(CAST(1 AS BIGINT), CAST(pmod({p}, 64) AS INT))"
    bitmap = (
        dup_keys.select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            F.expr(_mask.format(p="pos")).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    # densify to ONE 16384-long array row: probes become O(1) element_at
    # bit tests against a single ~128 KB broadcast — ZERO probe-side
    # joins. (The first form of this operator left-joined the sparse
    # bitmap k times per gram; five chained broadcast hash joins cost
    # ~4x the exact sibling at sf0.1 — the dense-array lookup removes
    # every probe-side join node from the plan.) The left join against
    # range() fills unset words with 0; array order is pinned by
    # array_sort on (word_idx, word) structs.
    dense = (
        spark.range(_DNB_M // 64)
        .select(F.col("id").cast("int").alias("word_idx"))
        .join(bitmap, "word_idx", "left")
        .select("word_idx", F.coalesce("word", F.lit(0)).alias("word"))
    )
    bits_row = dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("word_idx", "word"))),
            lambda s: s["word"],
        ).alias("bits")
    )

    probe = tri.crossJoin(F.broadcast(bits_row))
    tests = []
    for i, p in enumerate(_dnb_positions(F.col("g"))):
        probe = probe.withColumn(f"_p{i}", p)
        word = F.element_at(
            F.col("bits"), (F.col(f"_p{i}") / 64).cast("int") + 1
        )
        mask = F.expr(_mask.format(p=f"_p{i}"))
        tests.append(word.bitwiseAND(mask) != 0)
    cond = tests[0]
    for t in tests[1:]:
        cond = cond & t
    passed = probe.filter(cond).select("doc_id", "g")

    # exact verify on bloom survivors only: left-semi against the true
    # df>=2 keys strips the ~2e-7 false positives
    verified = passed.join(dup_keys, "g", "left_semi")
    return _dup_ngram_finish(tri, verified)


def _dup_ngram_finish(tri: DataFrame, verified: DataFrame) -> DataFrame:
    """Per-doc rollup shared by both regime paths."""
    dups = verified.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup"))
    totals = tri.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    n_dup = F.coalesce("n_dup", F.lit(0))
    return totals.join(dups, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        n_dup.alias("n_dup"),
        (n_dup.cast("double") / F.col("n_shingles")).alias("dup_frac"),
    )


# --- ext_containment_neardup --------------------------------------------------

#: Containment threshold tau = 4/5; thresholds compare as integers
#: (5*inter >= 4*n_a), so the bound itself never touches a float.
_CONT_NUM, _CONT_DEN = 4, 5
#: Truncated-copy re-tag offset (distinct from _BATCH_OFFSET and
#: llm_pipeline's _COPY_OFFSET).
_TRUNC_OFFSET = 3_000_000

#: Synthesized subset-duplicates: every 7th doc re-enters as its first
#: ~40% of tokens. A 40% prefix shares ALL its trigrams with the original
#: (containment 1.0) while its Jaccard is only ~0.4 — under
#: ext_neardup_jaccard's 0.6 threshold. This is exactly the duplicate class
#: (quotes, excerpt pages, boilerplate-wrapped fragments) containment
#: catches and symmetric Jaccard structurally cannot.
_CONT_CORPUS_SQL = f"""
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + {_TRUNC_OFFSET} AS doc_id, lang,
         array_to_string(
           (string_split(text, ' '))[1 :
             GREATEST(3, (2 * len(string_split(text, ' '))) // 5)], ' ')
           AS text
  FROM documents WHERE doc_id % 7 = 0
"""

_CONT_ORACLE = f"""
WITH corpus AS ({_CONT_CORPUS_SQL}),
tok AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM corpus
  WHERE len(string_split(text, ' ')) >= 3
),
tri AS (
  SELECT DISTINCT doc_id, lang,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))
           AS g
  FROM tok
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM tri a JOIN tri b
    ON a.g = b.g AND a.lang = b.lang AND a.doc_id != b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, sa.n AS n_a, n_inter,
       CAST(n_inter AS DOUBLE) / sa.n AS containment
FROM inter JOIN sizes sa ON doc_a = sa.doc_id
WHERE {_CONT_DEN} * n_inter >= {_CONT_NUM} * sa.n
"""


@query("ext_containment_neardup", oracle=_CONT_ORACLE, tier=3)
def ext_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: ordered pairs (doc_a contained-in
    doc_b) with |S_a intersect S_b| / |S_a| >= 0.8 over distinct word
    trigrams, same language. The subset-duplicate detector Jaccard
    structurally misses: a 40% excerpt of a long doc has containment 1.0
    but Jaccard ~0.4 (the synthesized corpus plants exactly those — see
    _CONT_CORPUS_SQL). Pipelines drop or down-weight the CONTAINED side
    (doc_a), keeping the superset document.

    EXACT via the asymmetric prefix filter: if the intersection has at
    least alpha = ceil(tau * n_a) elements, then among doc_a's
    (n_a - alpha + 1) globally RAREST shingles (global order =
    doc-frequency asc, hash asc — the ext_neardup_jaccard order) at least
    one is shared, so joining only the probe side's rare prefix against
    the FULL inverted index loses no qualifying pair. Unlike Jaccard
    there is no size filter (a tiny doc can be contained in a huge one) —
    the prefix bound alone does the work, and hot boilerplate shingles
    still sort last and stay out of prefixes. Verification intersects the
    two per-doc hash arrays (O(n_a + n_b) per candidate); the threshold
    compares integers (5*inter >= 4*n_a) and the emitted containment is
    one exact division. Shingles shuffle as xxhash64 longs; the oracle
    joins raw strings (the standing collision stance of
    ext_dup_ngram_coverage, pinned by the cross-representation hash
    equality test)."""
    from pyspark.sql import Window as W

    from ..session import scoped_persist
    from ..tables import load as _load
    from .llm_pipeline import _hashed_shingle_tokens

    d = _load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    trunc = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + _TRUNC_OFFSET).alias("doc_id"),
        "lang",
        F.array_join(
            F.slice(
                t,
                F.lit(1),
                F.greatest(F.lit(3), F.expr("(2 * size(split(text, ' '))) div 5")),
            ),
            " ",
        ).alias("text"),
    )
    corpus = d.select("doc_id", "lang", "text").unionAll(trunc)

    # ranked frame: one (lang, th) window for doc-frequency, one (doc_id)
    # window for prefix position + set size (the ext_neardup_jaccard
    # two-window shape). Persisted because it feeds three consumers: the
    # prefix probe, the df-pruned full index and the verification arrays.
    # Uncached, the key measured slower whole-key at sf0.1 on 4 cores
    # (warm median 2.79 s vs 2.41 s cached).
    tok = _hashed_shingle_tokens(corpus)
    doc_w = W.partitionBy("doc_id").orderBy("df", "th")
    ranked = scoped_persist(
        tok.withColumn(
            "df", F.count(F.lit(1)).over(W.partitionBy("lang", "th"))
        )
        .withColumn("pos", F.row_number().over(doc_w))
        .withColumn(
            "n_tok",
            F.count(F.lit(1)).over(
                doc_w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            ),
        )
    )
    # alpha = ceil(tau * n) = (4n + 4) div 5; prefix keeps pos <= n - alpha + 1
    # df >= 2 on BOTH join inputs is lossless: a candidate needs a SHARED
    # shingle, and a shingle held by one doc only (df == 1) can never
    # match across doc_id != doc_id — dropping those rows shrinks the
    # inverted-index join without changing its output. The prefix is
    # dominated by globally-rarest (mostly df == 1) shingles, so the cut
    # is large (measured ~25% off the key at sf0.1).
    prefix = ranked.filter(
        (
            F.col("pos")
            <= F.col("n_tok")
            - F.expr(f"({_CONT_NUM}*n_tok + {_CONT_DEN - 1}) DIV {_CONT_DEN}")
            + 1
        )
        & (F.col("df") >= 2)
    ).select("doc_id", "lang", "th")
    full = ranked.filter(F.col("df") >= 2).select("doc_id", "lang", "th")
    # unhinted deliberately (r13 A/B): the planner already broadcasts the
    # df-pruned side here (BroadcastHashJoin in plans/r13/..._before.txt);
    # a SHUFFLE_HASH hint like ext_neardup_jaccard's forced a shuffle and
    # REGRESSED the key (1.47 -> ~2.1 s min), so the jaccard hint does not
    # transfer to this asymmetric join
    cand = (
        prefix.alias("a")
        .join(
            full.alias("b"),
            (F.col("a.th") == F.col("b.th"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets = ranked.groupBy("doc_id").agg(
        F.collect_list("th").alias("ths"), F.first("n_tok").alias("n_tok")
    )
    sa, sb = sets.alias("sa"), sets.alias("sb")
    n_inter = F.size(F.array_intersect(F.col("sa.ths"), F.col("sb.ths")))
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.col("sa.n_tok").cast("long").alias("n_a"),
            n_inter.cast("long").alias("n_inter"),
            (n_inter.cast("double") / F.col("sa.n_tok")).alias("containment"),
        )
        .filter(_CONT_DEN * F.col("n_inter") >= _CONT_NUM * F.col("n_a"))
    )


# --- ext_tokenize_to_ids ------------------------------------------------------

#: Vocabulary size cap: tokens ranked by (corpus frequency desc, token asc);
#: rank > _VOCAB_TOP maps to the OOV id 0. Output id space is 1..N, 0 = OOV.
_VOCAB_TOP = 100

_TOK_IDS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, i AS pos, t[i] AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       unnest(range(1, len(t) + 1)) AS u(i)
),
vocab AS (
  SELECT token,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS token_id
  FROM tok GROUP BY token
  QUALIFY token_id <= {_VOCAB_TOP}
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tok,
       CAST(SUM(CASE WHEN token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       string_agg(CAST(COALESCE(token_id, 0) AS VARCHAR), ','
                  ORDER BY pos ASC) AS ids_csv
FROM tok LEFT JOIN vocab USING (token)
GROUP BY doc_id
"""


@query("ext_tokenize_to_ids", oracle=_TOK_IDS_ORACLE, tier=3)
def ext_tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-to-id mapping (the final text -> integer-sequence step before
    a training dataloader): a frequency-ranked vocabulary of the top 100
    tokens (rank order: count desc, token asc — deterministic), every
    other token mapped to the OOV id 0, and each document re-emitted as
    its id sequence (csv string — the driver's canonicalizer requires
    flat cells) plus token/OOV counts. Composes with ext_bpe_pair_counts
    (train the merges) upstream and ext_group_texts / ext_seq_pack
    (pack the sequences) downstream.

    Shape: the vocabulary is corpus-bounded — one token aggregate, a
    vocab-sized global rank window (single partition over VOCAB rows,
    the ext_quality_score stopword pattern — never over the corpus), and
    the id assignment is a broadcast join from tokens to the <= 100-row
    vocab. Sequence reassembly sorts (pos, id) pairs inside a per-doc
    aggregate: array_sort(collect_list(struct(pos, id))) — collect_list
    order is partition-dependent, the struct sort makes it deterministic.
    One shuffle of (doc_id, pos, id) triples. At 100 TB the vocab is a
    real tokenizer's (~100k rows) and still broadcasts; everything else
    scales linearly in tokens."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    from pyspark.sql import Window as W

    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "token_id",
            F.row_number().over(
                W.orderBy(F.col("n").desc(), F.col("token").asc())
            ),
        )
        .filter(F.col("token_id") <= _VOCAB_TOP)
        .select("token", "token_id")
    )
    mapped = tok.join(F.broadcast(vocab), "token", "left").select(
        "doc_id",
        "pos",
        F.coalesce("token_id", F.lit(0)).alias("tid"),
        F.col("token_id").isNull().cast("int").alias("oov"),
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda s: s["tid"].cast("string"),
        ),
        ",",
    )
    return mapped.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum("oov").cast("long").alias("n_oov"),
        seq.alias("ids_csv"),
    )


# --- ext_epoch_shuffle --------------------------------------------------------

#: Epoch-shuffle geometry: docs deal into 8 shards per epoch; two epochs
#: declared so the reshuffle property (different epoch -> different order)
#: is part of the graded surface, not just a docstring claim.
_ESH_SHARDS = 8
_ESH_EPOCHS = (0, 1)
_ESH_SALT = ":bdl-epoch-7"

_ESH_ORACLE = f"""
WITH e AS (
  SELECT doc_id, u.epoch,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{_ESH_SALT}'
                             || CAST(u.epoch AS VARCHAR)), 1, 12))::BIGINT AS v
  FROM documents, unnest([{", ".join(str(x) for x in _ESH_EPOCHS)}]) AS u(epoch)
)
SELECT epoch, doc_id,
       v % {_ESH_SHARDS} AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY epoch, v % {_ESH_SHARDS}
         ORDER BY v ASC, doc_id ASC
       ) AS BIGINT) AS pos
FROM e
"""


@query("ext_epoch_shuffle", oracle=_ESH_ORACLE, tier=3)
def ext_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle per epoch — the
    dataloader's reading plan: every document gets, for each epoch, a
    shard (which worker reads it) and a position (in what order), drawn
    from md5(doc_id || salt || epoch). This is how a 100 TB corpus is
    'shuffled' without ever materializing a permutation: membership and
    order are PURE FUNCTIONS of (doc_id, epoch), so any worker can
    re-derive its reading list independently, resume mid-epoch without
    coordination, and every engine reproduces the identical order (the
    ext_train_split_hash argument, extended from membership to
    sequence). A new epoch re-salts the hash — a genuinely different
    permutation, no RNG state shipped anywhere.

    Determinism: the sort key is the r8 48-bit hex bridge of md5
    (bit-equal across engines, pinned in tests/test_round8.py) with
    doc_id as total-order tie-break; shard is v % S on nonneg ints.

    Shape: hashing and shard assignment are map-side; the only exchange
    is the per-(epoch, shard) rank window — each window partition is
    1/S of an epoch, and at 100 TB the position column drops entirely
    (sortWithinPartitions on v at write time gives the same order
    physically) or decomposes via win_running_sum's two-pass
    partition-offset pattern if an explicit index must be stored."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    # built from the tuple's VALUES, not range(len(...)): the constant is
    # the single source of truth shared with the oracle (code-review r9)
    epochs = spark.createDataFrame(
        [(e,) for e in _ESH_EPOCHS], "epoch int"
    )
    v = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(_ESH_SALT),
                    F.col("epoch").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    e = d.crossJoin(F.broadcast(epochs)).select("doc_id", "epoch", v.alias("v"))
    from pyspark.sql import Window as W

    shard = F.pmod(F.col("v"), F.lit(_ESH_SHARDS))
    w = W.partitionBy("epoch", "shard").orderBy(
        F.col("v").asc(), F.col("doc_id").asc()
    )
    return (
        e.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("epoch", "doc_id", "shard", "pos")
    )


# --- ext_stratified_kfold -----------------------------------------------------

#: Fold count and the salt that decorrelates fold assignment from every
#: other hash-keyed decision in the catalog (the ext_train_split_hash
#: salt discipline).
_KFOLD_K = 5
_KFOLD_SALT = ":bdl-kfold-11"

_KFOLD_ORACLE = f"""
WITH ranked AS (
  SELECT lang, n_chars,
         (ROW_NUMBER() OVER (
            PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR) || '{_KFOLD_SALT}'), doc_id
          ) - 1) % {_KFOLD_K} AS fold
  FROM documents
)
SELECT fold, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum
FROM ranked GROUP BY fold, lang
"""


@query("ext_stratified_kfold", oracle=_KFOLD_ORACLE, tier=3)
def ext_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified k-fold assignment ({_KFOLD_K} folds,
    stratified by language) — the cross-validation / ensemble-sharding
    split a training pipeline derives once and must reproduce on every
    engine and cluster size: docs rank within their stratum by a salted
    md5 (cross-engine stable, the ext_train_split_hash discipline; the
    salt decorrelates fold membership from the train/val/test split and
    every sampler), and round-robin over the rank gives EXACTLY balanced
    folds per stratum (|max − min| <= 1 by construction — a plain
    hash % k split is only multinomially balanced, which is the reason
    k-fold exists). The declared output is the (fold, lang) audit grid.

    Shape: one window shuffle keyed on the stratum, then the bounded
    (fold, lang) rollup with full map-side combine. At 100 TB a single
    giant stratum makes the per-stratum rank the bottleneck; the
    documented swap is the two-pass rank (per-partition counts → prefix
    offsets broadcast back — the ext_epoch_shuffle mechanism) which
    preserves the same (hash, doc_id) total order with no global sort."""
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_KFOLD_SALT))),
        "doc_id",
    )
    ranked = d.select(
        "lang",
        "n_chars",
        ((F.row_number().over(w) - 1) % _KFOLD_K).alias("fold"),
    )
    return ranked.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars_sum"),
    )


# --- ext_class_balance_resample -------------------------------------------------

#: Salt decorrelating the balancing draw from every other hash-keyed
#: decision (kfold, train-split, samplers) — the _KFOLD_SALT discipline.
_CBAL_SALT = ":bdl-classbal-11c"

_CBAL_ORACLE = f"""
WITH sizes AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_before
  FROM embeddings GROUP BY label
),
m AS (SELECT MIN(n_before) AS m FROM sizes),
ranked AS (
  SELECT label, vec_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY label
           ORDER BY md5(CAST(vec_id AS VARCHAR) || '{_CBAL_SALT}'), vec_id
         ) AS BIGINT) AS rn
  FROM embeddings
)
SELECT r.label,
       s.n_before,
       CAST(SUM(CASE WHEN rn <= m THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(s.n_before
            - SUM(CASE WHEN rn <= m THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(SUM(CASE WHEN rn <= m THEN vec_id ELSE 0 END) AS BIGINT)
         AS kept_vecid_sum
FROM ranked r JOIN sizes s USING (label) CROSS JOIN m
GROUP BY r.label, s.n_before
"""


@query("ext_class_balance_resample", oracle=_CBAL_ORACLE, tier=3)
def ext_class_balance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class-balancing undersample over the labeled vector
    table: every label keeps exactly min-class-size rows, chosen by
    salted-md5 rank within the label — the imbalanced-training fix a
    classifier-data pipeline derives once and must reproduce bit-for-bit
    on any engine or cluster size (no RNG; the ext_stratified_kfold /
    ext_train_split_hash hash-rank discipline, salted so the balancing
    draw is independent of every other hash-keyed split). The declared
    output is the per-label audit grid with ``kept_vecid_sum`` binding
    the EXACT kept membership, not just its size — a sampler that keeps
    the right COUNT of the wrong rows still breaks the hash.

    Shape: one label-keyed counting aggregate (full map-side combine),
    the 1-row min fold over the O(labels) size frame broadcast back
    (EXPECTED_FLAGS), and one label-keyed rank window; the rollup output
    is O(labels). At 100 TB the per-label rank is the pressure point
    (10 partitions for the corpus): the two-pass distributed rank
    (per-partition counts -> prefix offsets, the ext_epoch_shuffle
    mechanism) is the documented swap, and an approximate variant can
    bound m by per-label reservoir counts without ranking at all."""
    e = load(spark, sf_dir, "embeddings")
    sizes = e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_before")
    )
    m = sizes.agg(F.min("n_before").alias("m"))
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("label").orderBy(
            F.md5(
                F.concat(F.col("vec_id").cast("string"), F.lit(_CBAL_SALT))
            ),
            F.col("vec_id").asc(),
        )
    ).cast("long")
    ranked = e.select("label", "vec_id", rn.alias("rn"))
    joined = ranked.join(F.broadcast(sizes), "label").crossJoin(
        F.broadcast(m)
    )
    return joined.groupBy("label", "n_before").agg(
        F.sum(F.expr("CASE WHEN rn <= m THEN 1 ELSE 0 END")).alias(
            "n_kept"
        ),
        F.expr(
            "CAST(FIRST(n_before)"
            " - SUM(CASE WHEN rn <= m THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_dropped"),
        F.sum(
            F.expr("CASE WHEN rn <= m THEN vec_id ELSE 0 END")
        ).alias("kept_vecid_sum"),
    )


# --- ext_ngram_novelty ----------------------------------------------------------

_NOVELTY_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id, lang, text,
         CASE WHEN substr(h, 1, 1) < 'c' THEN 'train'
              WHEN substr(h, 1, 1) < 'e' THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, lang, text,
           md5(CAST(doc_id AS VARCHAR) || '{_SPLIT_SALT}') AS h
    FROM documents
  )
),
toks AS (
  SELECT doc_id, lang, split, string_split(text, ' ') AS t FROM assigned
),
gram AS (
  SELECT doc_id, lang, split,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
           AS g
  FROM toks
),
train_types AS (
  SELECT DISTINCT lang, g FROM gram WHERE split = 'train'
),
val_marked AS (
  SELECT v.lang, v.g, (t.g IS NULL) AS novel
  FROM (SELECT lang, g FROM gram WHERE split = 'val') v
  LEFT JOIN train_types t ON v.lang = t.lang AND v.g = t.g
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_val_instances,
       CAST(SUM(CASE WHEN novel THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel_instances,
       CAST(SUM(CASE WHEN novel THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS instance_novelty,
       CAST(COUNT(DISTINCT g) AS BIGINT) AS n_val_types,
       CAST(COUNT(DISTINCT CASE WHEN novel THEN g END) AS BIGINT)
         AS n_novel_types,
       CAST(COUNT(DISTINCT CASE WHEN novel THEN g END) AS DOUBLE)
         / CAST(COUNT(DISTINCT g) AS DOUBLE) AS type_novelty
FROM val_marked
GROUP BY lang
"""


@query("ext_ngram_novelty", oracle=_NOVELTY_ORACLE, tier=3)
def ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out n-gram novelty: the fraction of the val split's 3-gram
    instances (and distinct types) NEVER seen in the train split, per
    language — the generalization/memorization audit run before trusting
    held-out perplexity (a val set whose grams are all in train measures
    memorization, not generalization; conversely near-total novelty
    flags a broken split or domain shift). Composes the
    ext_train_split_hash assignment (same salt, re-derived map-side) so
    the audit binds to the EXACT split training will use.

    Shape: one scan explodes grams with the split CASE attached
    map-side; the train TYPE set is one distinct (gram-keyed shuffle of
    the train slice), and val instances mark novelty via one
    (lang, gram)-keyed left join — at 100 TB both sides of that join
    are gram-hash-partitioned and co-keyed, and the output is one row
    per language. The two COUNT(DISTINCT) ride the same lang-keyed
    final aggregate. Exact integer counts; the two rates are
    shared-text IEEE divisions."""
    d = load(spark, sf_dir, "documents")
    first = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_SPLIT_SALT))),
        1,
        1,
    )
    split = (
        F.when(first < "c", "train").when(first < "e", "val").otherwise("test")
    )
    toks = d.select(
        split.alias("split"), "lang", F.split("text", " ").alias("t")
    ).filter(F.col("split").isin("train", "val"))
    gram = toks.select(
        "split",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 3 THEN "
                "transform(sequence(0, size(t) - 3), "
                "i -> concat_ws(' ', t[i], t[i+1], t[i+2])) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    train_types = (
        gram.filter(F.col("split") == "train").select("lang", "g").distinct()
    )
    val_marked = (
        gram.filter(F.col("split") == "val")
        .select("lang", "g")
        .join(
            train_types.withColumn("seen", F.lit(1)),
            ["lang", "g"],
            "left",
        )
        .select("lang", "g", F.col("seen").isNull().alias("novel"))
    )
    return val_marked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_val_instances"),
        F.sum(F.expr("CASE WHEN novel THEN 1 ELSE 0 END")).alias(
            "n_novel_instances"
        ),
        F.expr(
            "CAST(SUM(CASE WHEN novel THEN 1 ELSE 0 END) AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE)"
        ).alias("instance_novelty"),
        F.countDistinct("g").alias("n_val_types"),
        F.countDistinct(
            F.expr("CASE WHEN novel THEN g END")
        ).alias("n_novel_types"),
        F.expr(
            "CAST(COUNT(DISTINCT CASE WHEN novel THEN g END) AS DOUBLE)"
            " / CAST(COUNT(DISTINCT g) AS DOUBLE)"
        ).alias("type_novelty"),
    )


# --- ext_split_balance_chi2 -----------------------------------------------------

_CHI2_ORACLE = f"""
WITH assigned AS (
  SELECT lang,
         CASE WHEN substr(h, 1, 1) < 'c' THEN 'train'
              WHEN substr(h, 1, 1) < 'e' THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT lang,
           md5(CAST(doc_id AS VARCHAR) || '{_SPLIT_SALT}') AS h
    FROM documents
  )
),
cells AS (
  SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS obs
  FROM assigned GROUP BY split, lang
),
rt AS (SELECT split, CAST(SUM(obs) AS BIGINT) AS r FROM cells GROUP BY split),
ct AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS c FROM cells GROUP BY lang),
n AS (SELECT CAST(SUM(obs) AS BIGINT) AS total FROM cells),
comp AS (
  SELECT cells.split, cells.lang, cells.obs,
         CAST(rt.r * ct.c AS DOUBLE) / CAST(n.total AS DOUBLE)
           AS expected,
         CAST(floor(
           CAST((n.total * cells.obs - rt.r * ct.c)
                * (n.total * cells.obs - rt.r * ct.c) AS DOUBLE)
             / CAST(n.total AS DOUBLE) / CAST(rt.r * ct.c AS DOUBLE)
           * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS chi_q
  FROM cells JOIN rt ON cells.split = rt.split
             JOIN ct ON cells.lang = ct.lang
             CROSS JOIN n
),
tot AS (
  SELECT CAST(SUM(chi_q) AS DOUBLE) / 1e9 AS chi2,
         CAST((COUNT(DISTINCT split) - 1)
              * (COUNT(DISTINCT lang) - 1) AS BIGINT) AS dof
  FROM comp
)
SELECT comp.split, comp.lang, comp.obs, comp.expected,
       CAST(comp.chi_q AS DOUBLE) / 1e9 AS chi_component,
       tot.chi2, tot.dof
FROM comp CROSS JOIN tot
"""


@query("ext_split_balance_chi2", oracle=_CHI2_ORACLE, tier=3)
def ext_split_balance_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the train/val/test assignment
    against the language marginals — the statistical half of the split
    QA pair (ext_split_leakage checks content contamination; this checks
    DISTRIBUTIONAL balance: a hash split should be independent of every
    column, and a chi2 far above dof flags a salt interacting with the
    id structure). Emits the (split, lang) contingency grid with
    expected counts and per-cell components; chi2 and dof ride every row.

    Exactness: the per-cell component collapses to
    (N*obs - r*c)^2 / (N * r * c) — an exact-integer numerator over two
    shared-text divisions of exact integers — floor-quantized to the 1e9
    grid BEFORE the cross-cell sum (products stay in int64 to ~3e9 docs;
    DECIMAL widening documented past that); 'expected' is one division.

    Shape: map-side md5 assignment (the ext_train_split_hash salt,
    re-derived), ONE (split, lang) counting aggregate — the only
    data-sized exchange — then marginal joins and the chi2 fold on the
    <= 15-row grid (EXPECTED_FLAGS)."""
    d = load(spark, sf_dir, "documents")
    assigned = d.select(
        "lang",
        F.expr(
            f"CASE WHEN substr(md5(CAST(doc_id AS STRING)"
            f" || '{_SPLIT_SALT}'), 1, 1) < 'c' THEN 'train'"
            f" WHEN substr(md5(CAST(doc_id AS STRING)"
            f" || '{_SPLIT_SALT}'), 1, 1) < 'e' THEN 'val'"
            f" ELSE 'test' END"
        ).alias("split"),
    )
    cells = assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("obs")
    )
    rt = cells.groupBy("split").agg(F.sum("obs").alias("r"))
    ct = cells.groupBy("lang").agg(F.sum("obs").alias("c"))
    n = cells.agg(F.sum("obs").alias("total"))
    comp = (
        cells.join(F.broadcast(rt), "split")
        .join(F.broadcast(ct), "lang")
        .crossJoin(F.broadcast(n))
        .select(
            "split",
            "lang",
            "obs",
            F.expr(
                "CAST(r * c AS DOUBLE) / CAST(total AS DOUBLE)"
            ).alias("expected"),
            F.expr(
                "CAST(floor(CAST((total * obs - r * c)"
                " * (total * obs - r * c) AS DOUBLE)"
                " / CAST(total AS DOUBLE) / CAST(r * c AS DOUBLE)"
                " * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
            ).alias("chi_q"),
        )
    )
    tot = comp.agg(
        F.expr("CAST(SUM(chi_q) AS DOUBLE) / 1e9").alias("chi2"),
        F.expr(
            "CAST((COUNT(DISTINCT split) - 1)"
            " * (COUNT(DISTINCT lang) - 1) AS BIGINT)"
        ).alias("dof"),
    )
    return comp.crossJoin(F.broadcast(tot)).select(
        "split",
        "lang",
        "obs",
        "expected",
        F.expr("CAST(chi_q AS DOUBLE) / 1e9").alias("chi_component"),
        "chi2",
        "dof",
    )


# --- ext_dataset_card -----------------------------------------------------------

_CARD_ORACLE = """
WITH t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
  FROM documents
),
toplang AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS top_lang_docs FROM documents
  GROUP BY lang ORDER BY COUNT(*) DESC, lang ASC LIMIT 1
)
SELECT metric, value FROM (
  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM t
  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM t
  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM t
  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM t
  UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE) FROM t
  UNION ALL SELECT 'mean_tokens_per_doc',
    CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) FROM t
  UNION ALL SELECT 'exact_dup_rate',
    CAST(n_docs - n_unique_texts AS DOUBLE) / CAST(n_docs AS DOUBLE)
    FROM t
  UNION ALL SELECT 'top_lang_share',
    CAST(toplang.top_lang_docs AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
    FROM t CROSS JOIN toplang
)
"""


@query("ext_dataset_card", oracle=_CARD_ORACLE, tier=2)
def ext_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-frame dataset card: the headline numbers a corpus release
    publishes (doc/lang/source counts, token and char totals, mean doc
    length, exact-duplicate rate, head-language share) as (metric,
    value) rows — the summary every downstream consumer reads first,
    and the round-over-round regression surface for the corpus itself
    (a dup-rate jump or a head-language drift is a pipeline incident).
    Deeper panels live in their own keys (ext_text_stats per lang,
    prof_mutual_info for lang x source dependence, ext_dedup_hash for
    the dup manifest); this is the cover sheet.

    Exactness: every metric is an exact integer count/sum or ONE
    shared-text division of two exact integers.

    Shape: one pass folds the scalar aggregates (count/sum map-side,
    the two COUNT(DISTINCT)s as their own keyed collapses), the
    head-language share is a TakeOrdered-1 over the O(langs) count
    frame, and the card unpivots from the 1-row fold (EXPECTED_FLAGS —
    O(metrics) rows, never docs)."""
    d = load(spark, sf_dir, "documents")
    t = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
    )
    toplang = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("top_lang_docs"))
        .orderBy(F.desc("top_lang_docs"), F.asc("lang"))
        .limit(1)
        .select("top_lang_docs")
    )
    card = t.crossJoin(F.broadcast(toplang))
    return card.select(
        F.expr(
            "stack(8,"
            " 'n_docs', CAST(n_docs AS DOUBLE),"
            " 'n_langs', CAST(n_langs AS DOUBLE),"
            " 'n_sources', CAST(n_sources AS DOUBLE),"
            " 'n_tokens', CAST(n_tokens AS DOUBLE),"
            " 'n_chars', CAST(n_chars AS DOUBLE),"
            " 'mean_tokens_per_doc',"
            "   CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE),"
            " 'exact_dup_rate',"
            "   CAST(n_docs - n_unique_texts AS DOUBLE)"
            "     / CAST(n_docs AS DOUBLE),"
            " 'top_lang_share',"
            "   CAST(top_lang_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)"
            ") AS (metric, value)"
        )
    )


# --- ext_shard_skew_sweep -------------------------------------------------------

#: Candidate shard counts. The shard key is an md5 bucket both engines
#: compute identically (the ext_sample_weighted hex bridge); the salt
#: decouples it from the split/sample salts.
_SKEW_COUNTS = [8, 16, 32]
_SKEW_SALT = ":bdl-shard-skew"

_SKEW_ORACLE = f"""
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{_SKEW_SALT}'),
                         1, 8))::BIGINT AS hv
  FROM documents
),
sweep AS (
  SELECT n_shards, hv % n_shards AS shard
  FROM h CROSS JOIN (SELECT unnest([{", ".join(str(n) for n in _SKEW_COUNTS)}])
                       AS n_shards)
),
grid AS (
  SELECT n.n_shards, s.shard
  FROM (SELECT unnest([{", ".join(str(n) for n in _SKEW_COUNTS)}])
          AS n_shards) n,
       (SELECT unnest(range(0, {max(_SKEW_COUNTS)})) AS shard) s
  WHERE s.shard < n.n_shards
),
per AS (
  SELECT g.n_shards, g.shard, CAST(COUNT(c.shard) AS BIGINT) AS n_docs
  FROM grid g LEFT JOIN sweep c
    ON c.n_shards = g.n_shards AND c.shard = g.shard
  GROUP BY g.n_shards, g.shard
)
SELECT CAST(n_shards AS BIGINT) AS n_shards,
       CAST(SUM(n_docs) AS BIGINT) AS n_total,
       CAST(MAX(n_docs) AS BIGINT) AS max_docs,
       CAST(MIN(n_docs) AS BIGINT) AS min_docs,
       CAST(MAX(n_docs) * n_shards AS DOUBLE)
         / CAST(SUM(n_docs) AS DOUBLE) AS max_skew_ratio,
       CAST(n_shards * SUM(CAST(n_docs AS HUGEINT) * n_docs)
            - CAST(SUM(n_docs) AS HUGEINT) * SUM(n_docs) AS DOUBLE)
         / CAST(CAST(SUM(n_docs) AS HUGEINT) * SUM(n_docs) AS DOUBLE)
         AS rel_variance
FROM per GROUP BY n_shards
"""


@query("ext_shard_skew_sweep", oracle=_SKEW_ORACLE, tier=3)
def ext_shard_skew_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance sweep: hash-shard the corpus at 8/16/32 shards and
    report per shard count the max/min shard sizes, the max-skew ratio
    (max * n / total — the straggler multiplier: how much longer the
    slowest shard runs than the mean), and the relative variance
    (n * sum(c^2) / total^2 - 1 in one integer-exact expression) — the
    read before fixing a webdataset shard count or a bucketing width
    (ext_shard_rendezvous assigns; this audits the assignment the way
    prof_skew_report audits natural keys). EMPTY shards report via the
    shard grid (a hash that never hits shard 31 is itself the finding).

    Exactness: the shard is an md5 bucket both engines compute
    identically; counts are exact; the skew ratio is one shared-text
    division and the variance numerator widens DECIMAL(38,0)/HUGEINT
    (counts^2 sums pass int64 at ~3e9 docs/shard).

    Shape: one map-side hash projection fans out to the 3-candidate
    sweep (explode), ONE (n_shards, shard) counting aggregate — 56
    groups at any corpus size — and the summary folds run on that
    frame."""
    d = load(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"),
                           F.lit(_SKEW_SALT))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    sweep = d.select(hv.alias("hv")).select(
        F.explode(
            F.array(*[F.lit(n) for n in _SKEW_COUNTS])
        ).alias("n_shards"),
        "hv",
    ).select("n_shards", (F.col("hv") % F.col("n_shards")).alias("shard"))
    grid = (
        spark.createDataFrame([(n,) for n in _SKEW_COUNTS], "n_shards int")
        .select(
            "n_shards",
            F.explode(
                F.sequence(F.lit(0), F.col("n_shards") - 1)
            ).alias("shard"),
        )
        .select(
            F.col("n_shards").cast("int").alias("n_shards"),
            F.col("shard").cast("long").alias("shard"),
        )
    )
    per = (
        grid.join(
            sweep.groupBy("n_shards", "shard").agg(
                F.count(F.lit(1)).alias("c")
            ),
            ["n_shards", "shard"],
            "left",
        )
        .select(
            "n_shards",
            "shard",
            F.coalesce("c", F.lit(0).cast("long")).alias("n_docs"),
        )
    )
    return per.groupBy("n_shards").agg(
        F.sum("n_docs").alias("n_total"),
        F.max("n_docs").alias("max_docs"),
        F.min("n_docs").alias("min_docs"),
        F.expr(
            "CAST(MAX(n_docs) * n_shards AS DOUBLE)"
            " / CAST(SUM(n_docs) AS DOUBLE)"
        ).alias("max_skew_ratio"),
        F.expr(
            "CAST(n_shards * SUM(CAST(n_docs AS DECIMAL(38,0)) * n_docs)"
            " - CAST(SUM(n_docs) AS DECIMAL(38,0)) * SUM(n_docs)"
            " AS DOUBLE)"
            " / CAST(CAST(SUM(n_docs) AS DECIMAL(38,0)) * SUM(n_docs)"
            " AS DOUBLE)"
        ).alias("rel_variance"),
    ).select(
        F.col("n_shards").cast("long").alias("n_shards"),
        "n_total",
        "max_docs",
        "min_docs",
        "max_skew_ratio",
        "rel_variance",
    )


# --- ext_cross_source_overlap ---------------------------------------------------

_XSRC_ORACLE = """
WITH g AS (
  SELECT DISTINCT source, unnest(list_transform(
    range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
    AS gram
  FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
),
sz AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g
  GROUP BY source
),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.src_a, i.src_b, i.n_common,
       sa.n_grams AS n_a, sb.n_grams AS n_b,
       CAST(i.n_common AS DOUBLE) / CAST(sa.n_grams AS DOUBLE)
         AS containment_a,
       CAST(i.n_common AS DOUBLE)
         / CAST(sa.n_grams + sb.n_grams - i.n_common AS DOUBLE)
         AS jaccard
FROM inter i
JOIN sz sa ON sa.source = i.src_a
JOIN sz sb ON sb.source = i.src_b
"""


@query("ext_cross_source_overlap", oracle=_XSRC_ORACLE, tier=3)
def ext_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram overlap between SOURCES — the provenance-level
    contamination audit ("which feeds are re-serving each other's
    content?") that sits above document-level near-dup: a source pair
    with high containment means one feed is a mirror/scrape of the
    other, so dedup budgets and domain-mix weights should treat them
    as one (ext_overlap_kmv sketches train-vs-test; this is the exact
    all-pairs source matrix, bounded by the source count). Emits
    intersection size, per-source gram counts, directional containment
    |A∩B|/|A|, and Jaccard per co-occurring pair.

    Exactness: grams are distinct strings (no hashing — the join IS the
    equality test); counts exact; the two ratios are single IEEE
    divisions of exact integers.

    Shape: ONE gram-keyed aggregate collapses the corpus —
    collect_set(source) dedups (source, gram) inside the aggregate
    (map-side partials; per-doc grams array_distinct first), and the
    <= |sources| set expands to ordered pairs with array combinatorics
    in the same task (the minhash candidate-pair shape) — never a
    gram self-join (the r12 form shuffled the distinct pair stream
    once for the DISTINCT and twice more for the self-join inputs:
    1.96 s vs 1.64 s min-of-3 at sf0.1). The size frame explodes off
    the same persisted aggregate and is broadcast-joined. At 100 TB
    the gram key shuffles gram ids (xxhash64 the gram string —
    documented swap); the per-gram set stays bounded by the SOURCE
    count (catalog-sized), so hot boilerplate grams cost set size,
    not join fan-out."""
    d = load(spark, sf_dir, "documents")
    g = d.select("source", F.split("text", " ").alias("t")).select(
        "source",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 3 THEN array_distinct(transform("
                "sequence(0, size(t) - 3),"
                " i -> concat_ws(' ', t[i], t[i+1], t[i+2])))"
                " ELSE array() END"
            )
        ).alias("gram"),
    )
    from ..session import scoped_persist

    per_gram = scoped_persist(
        g.groupBy("gram").agg(
            F.sort_array(F.collect_set("source")).alias("ss")
        )
    )
    sz = (
        per_gram.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )
    inter = (
        per_gram.filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (a, i) ->"
                    " transform(slice(ss, i + 2, size(ss)),"
                    " b -> struct(a AS src_a, b AS src_b))))"
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(
                sz.select(
                    F.col("source").alias("src_a"),
                    F.col("n_grams").alias("n_a"),
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sz.select(
                    F.col("source").alias("src_b"),
                    F.col("n_grams").alias("n_b"),
                )
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            (F.col("n_common").cast("double") / F.col("n_a").cast("double"))
            .alias("containment_a"),
            (
                F.col("n_common").cast("double")
                / (
                    F.col("n_a") + F.col("n_b") - F.col("n_common")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


# --- ext_er_blocking_audit ------------------------------------------------------

def _er_blocking_oracle() -> str:
    from .llm_pipeline import _JACCARD_ORACLE

    return f"""
WITH gold AS MATERIALIZED ({_JACCARD_ORACLE}),
corpus AS ({_CORPUS_SQL}),
keys AS (
  SELECT doc_id, lang, strategy, k FROM (
    SELECT doc_id, lang,
           'prefix4' AS strategy,
           array_to_string(string_split(text, ' ')[1:4], ' ') AS k
    FROM corpus
    UNION ALL
    SELECT doc_id, lang, 'lenbucket',
           CAST(len(string_split(text, ' ')) // 16 AS VARCHAR)
    FROM corpus
    UNION ALL
    SELECT doc_id, lang, 'firstlast',
           string_split(text, ' ')[1] || '|' ||
           string_split(text, ' ')[len(string_split(text, ' '))]
    FROM corpus
  )
),
blocks AS (
  SELECT strategy, lang, k, CAST(COUNT(*) AS BIGINT) AS nb
  FROM keys GROUP BY strategy, lang, k
),
cand AS (
  SELECT strategy,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(nb * (nb - 1) // 2) AS BIGINT) AS cand_pairs
  FROM blocks GROUP BY strategy
),
lt AS (
  SELECT CAST(SUM(nl * (nl - 1) // 2) AS BIGINT) AS total_pairs FROM (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS nl FROM corpus GROUP BY lang
  )
),
gt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_gold FROM gold),
cob AS (
  SELECT ka.strategy, CAST(COUNT(DISTINCT (g.doc_a, g.doc_b)) AS BIGINT)
           AS gold_coblocked
  FROM gold g
  JOIN keys ka ON ka.doc_id = g.doc_a
  JOIN keys kb ON kb.doc_id = g.doc_b
   AND kb.strategy = ka.strategy AND kb.k = ka.k
   AND kb.lang = ka.lang
  GROUP BY ka.strategy
)
SELECT c.strategy, c.n_blocks, c.cand_pairs,
       CAST(1 AS DOUBLE) - CAST(c.cand_pairs AS DOUBLE)
         / CAST(lt.total_pairs AS DOUBLE) AS reduction_ratio,
       gt.n_gold,
       COALESCE(cob.gold_coblocked, 0) AS gold_coblocked,
       CASE WHEN gt.n_gold = 0 THEN CAST(1 AS DOUBLE)
            ELSE CAST(COALESCE(cob.gold_coblocked, 0) AS DOUBLE)
                 / CAST(gt.n_gold AS DOUBLE)
       END AS pair_completeness
FROM cand c
CROSS JOIN lt CROSS JOIN gt
LEFT JOIN cob ON cob.strategy = c.strategy
"""


_ER_BLOCKING_ORACLE = _er_blocking_oracle()


@query("ext_er_blocking_audit", oracle=_ER_BLOCKING_ORACLE, tier=3)
def ext_er_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution BLOCKING-strategy audit: for three candidate
    blocking keys (first-4-token prefix, length bucket, first+last
    token) the block count, candidate-pair volume sum nb*(nb-1)/2, the
    reduction ratio against the same-language all-pairs universe, and
    PAIR COMPLETENESS — the fraction of gold near-dup pairs (the exact
    >= 0.6 Jaccard set that ext_neardup_jaccard pins) whose two docs
    share a block. This is THE trade-off table every dedup/ER pipeline
    reads before fixing its blocking scheme: a key with 0.99 reduction
    but 0.6 completeness silently loses 40% of true matches before
    any matcher runs.

    Exactness: block keys are deterministic string/integer functions of
    the text; pair volumes are exact integer combinatorics; both ratios
    are single IEEE divisions of exact integers (completeness defined
    as 1.0 on an empty gold set).

    Shape: the gold set reuses ext_neardup_jaccard's prefix-filtered
    exact join (its key pins it); the blocking side is ONE union of
    three map-side key projections -> one (strategy, lang, key)
    counting aggregate (the exchange carries block keys, not docs) ->
    an O(strategies)-row rollup; the completeness join brings only the
    gold PAIRS (model-sized) against the per-doc key frames. At 100 TB
    the audit never materializes candidate pairs — only their counts."""
    from .llm_pipeline import _corpus_with_dups, ext_neardup_jaccard

    corpus = _corpus_with_dups(spark, sf_dir).select(
        "doc_id", "lang", F.split("text", " ").alias("t")
    )
    from ..session import scoped_persist

    keys = scoped_persist(
        corpus.select(
            "doc_id",
            "lang",
            F.expr(
                "stack(3,"
                " 'prefix4', concat_ws(' ', slice(t, 1, 4)),"
                " 'lenbucket', CAST(size(t) DIV 16 AS STRING),"
                " 'firstlast', concat(element_at(t, 1), '|',"
                "                     element_at(t, size(t)))"
                ") AS (strategy, k)"
            ),
        )
    )
    blocks = keys.groupBy("strategy", "lang", "k").agg(
        F.count(F.lit(1)).alias("nb")
    )
    cand = blocks.groupBy("strategy").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.expr("nb * (nb - 1) DIV 2")).alias("cand_pairs"),
    )
    lt = (
        corpus.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nl"))
        .agg(F.sum(F.expr("nl * (nl - 1) DIV 2")).alias("total_pairs"))
    )
    # gold feeds both the gold count and the co-blocking join. Uncached,
    # the key measured slower whole-key at sf0.1 on 4 cores (warm median
    # 3.41 s vs 3.15 s cached).
    gold = scoped_persist(
        ext_neardup_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    )
    gt = gold.agg(F.count(F.lit(1)).alias("n_gold"))
    ka = keys.select(
        F.col("doc_id").alias("doc_a"), "lang", "strategy", "k"
    )
    kb = keys.select(
        F.col("doc_id").alias("doc_b2"),
        F.col("lang").alias("lang_b"),
        F.col("strategy").alias("strategy_b"),
        F.col("k").alias("k_b"),
    )
    cob = (
        gold.join(ka, "doc_a")
        .join(
            kb,
            (F.col("doc_b") == F.col("doc_b2"))
            & (F.col("strategy") == F.col("strategy_b"))
            & (F.col("k") == F.col("k_b"))
            & (F.col("lang") == F.col("lang_b")),
        )
        .select("strategy", "doc_a", "doc_b")
        .distinct()
        .groupBy("strategy")
        .agg(F.count(F.lit(1)).alias("gold_coblocked"))
    )
    return (
        cand.crossJoin(F.broadcast(lt))
        .crossJoin(F.broadcast(gt))
        .join(F.broadcast(cob), "strategy", "left")
        .select(
            "strategy",
            "n_blocks",
            "cand_pairs",
            (
                F.lit(1.0)
                - F.col("cand_pairs").cast("double")
                / F.col("total_pairs").cast("double")
            ).alias("reduction_ratio"),
            "n_gold",
            F.coalesce(F.col("gold_coblocked"), F.lit(0)).alias(
                "gold_coblocked"
            ),
            F.when(F.col("n_gold") == 0, F.lit(1.0))
            .otherwise(
                F.coalesce(F.col("gold_coblocked"), F.lit(0)).cast("double")
                / F.col("n_gold").cast("double")
            )
            .alias("pair_completeness"),
        )
    )
