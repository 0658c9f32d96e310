"""Training-data text operators over the ``documents`` table: exact and
near dedup (MinHash+LSH, SimHash, n-gram Jaccard), language-ID heuristic,
quality scoring, token counting, fingerprinting.

Every operator is a *declarative* Spark query (spark.sql / DataFrame —
Catalyst plans it, whole-stage codegen executes it; no Python UDFs), with a
portable-hash design so DuckDB can verify it: the hash primitive is
``md5(string)`` (identical hex in Spark and DuckDB), bits are extracted
from hex nibbles with pure string ops, and shingling uses
split/slice/transform on both sides.

Scale notes (100 TB): every query below is one scan + one shuffle (the
groupBy/join on the hash key). MinHash signatures and SimHash are pure
map-side expressions; the LSH band join self-joins on the band key — at
real scale that key is salted per band and the join is AQE-skew-handled;
the pair generation never materializes the full cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pdf_spark.functions.tables import register_views

QUERIES = {}
ORACLE = {}
_STAGED_CACHE: dict[str, tuple[str, DataFrame]] = {}  # view -> (sql, df)

N_MINHASH = 4  # 4 independent min-hashes; band = (h0,h1) for LSH


def _pair(name: str, spark_sql: str, duck_sql: str | None):
    def fn(spark: SparkSession, sf: str, _sql=spark_sql) -> DataFrame:
        register_views(spark, sf)
        return spark.sql(_sql)

    QUERIES[name] = fn
    if duck_sql is not None:
        ORACLE[name] = duck_sql


def _pair_staged(
    name: str, stage_view: str, stage_sql: str, main_sql: str, duck_sql: str | None
):
    """Two-stage query: the shared intermediate (signature/token table) is
    computed ONCE, persisted, and exposed as a temp view the main query
    references. Without this, a CTE referenced on both sides of a self-join
    is inlined and the expensive aggregation runs per reference (no
    ReusedExchange across broadcast/shuffle boundaries). At 10^12 scale the
    persist becomes a write to an intermediate table — same dataflow.

    The previous invocation's staged DataFrame for the same view is
    unpersisted on re-entry, so repeated runs in one session hold at most
    one cached copy per query (the current one stays cached because the
    returned main DataFrame is evaluated lazily by the caller)."""

    def fn(
        spark: SparkSession, sf: str, _ss=stage_sql, _ms=main_sql, _v=stage_view
    ) -> DataFrame:
        register_views(spark, sf)
        _stage(spark, _v, _ss)
        return spark.sql(_ms)

    QUERIES[name] = fn
    if duck_sql is not None:
        ORACLE[name] = duck_sql


def _evict_stale_stages(spark: SparkSession) -> None:
    """Drop cache entries bound to a session other than the active one: a
    stopped-and-recreated SparkSession leaves DataFrames that either fail on
    reuse or raise from unpersist(). Stale entries are discarded without
    unpersist — their session's cache died with it."""
    stale = [
        v for v, (_s, df) in _STAGED_CACHE.items() if df.sparkSession is not spark
    ]
    for v in stale:
        del _STAGED_CACHE[v]


def _stage(spark: SparkSession, view: str, sql: str) -> None:
    """Persist + register one staged view, releasing the previous
    invocation's cached copy for that view (shared by _pair_staged and
    any query that stages multiple views, e.g. qt11). If the same SQL is
    already staged under the view — or under another view (qt11 re-stages
    qt06's signature SQL) — the cached DataFrame is reused instead of
    recomputing the expensive aggregation."""
    _evict_stale_stages(spark)
    prev = _STAGED_CACHE.get(view)
    if prev is not None and prev[0] == sql:
        return
    if prev is not None:
        try:
            prev[1].unpersist()
        except Exception:  # session torn down mid-check: entry is stale
            pass
        del _STAGED_CACHE[view]
    for other_sql, other_df in _STAGED_CACHE.values():
        if other_sql == sql:
            other_df.createOrReplaceTempView(view)
            _STAGED_CACHE[view] = (sql, other_df)
            return
    staged = spark.sql(sql)
    staged.persist()
    staged.createOrReplaceTempView(view)
    _STAGED_CACHE[view] = (sql, staged)


# -- exact dedup --------------------------------------------------------------

_pair(
    "qt01_dedup_exact",
    """SELECT md5(text) AS fingerprint, COUNT(*) AS n_copies,
              MIN(doc_id) AS keeper_id
       FROM documents GROUP BY md5(text)""",
    """SELECT md5(text) AS fingerprint, COUNT(*) AS n_copies,
              MIN(doc_id) AS keeper_id
       FROM documents GROUP BY md5(text)""",
)

# -- token counting -----------------------------------------------------------

_pair(
    "qt02_token_count",
    """SELECT doc_id, size(split(text, ' ')) AS n_tokens,
              length(text) AS n_chars_computed, n_chars
       FROM documents""",
    """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
              length(text) AS n_chars_computed, n_chars
       FROM documents""",
)

# -- quality scoring ----------------------------------------------------------

_QUALITY_BODY = """
SELECT doc_id,
       length(text) AS n,
       ROUND(CAST(length(regexp_replace(text, '[^aeiou]', ''{G})) AS DOUBLE)
             / length(text), 4) AS vowel_ratio,
       ROUND(CAST(length(regexp_replace(text, '[^ ]', ''{G})) AS DOUBLE)
             / length(text), 4) AS space_ratio,
       CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1 ELSE 0 END
         AS len_ok
FROM documents WHERE length(text) > 0
"""
# DuckDB regexp_replace is first-match-only without the 'g' flag
_pair(
    "qt03_quality_score",
    _QUALITY_BODY.replace("{G}", ""),
    _QUALITY_BODY.replace("{G}", ", 'g'"),
)

# -- language-ID heuristic ----------------------------------------------------

# stopword-hit counting via length deltas (portable, no regex_count needed)
# outer CAST: DuckDB SUM(BIGINT) yields HUGEINT (int128) while Spark yields
# BIGINT; the driver's value hash distinguishes result *types*, so both
# engines cast the sum back down (same trick as qt10's floor()).
_LANG_SPARK = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST((length(text) - length(replace(text, ' the ', ''))) / 5
           AS BIGINT)) AS BIGINT) AS en_hits,
       CAST(SUM(CAST((length(text) - length(replace(text, ' der ', ''))) / 5
           AS BIGINT)) AS BIGINT) AS de_hits
FROM documents GROUP BY lang
"""
_pair("qt04_langid_stopwords", _LANG_SPARK, _LANG_SPARK)

# -- MinHash signatures (word 3-shingles) -------------------------------------


def _minhash_cols(engine: str) -> str:
    # one md5 per shingle, sliced into N_MINHASH disjoint 32-bit (8 hex
    # char) windows — md5 bits are uniformly mixed, so the slices act as
    # independent hash functions (the split-one-128-bit-hash trick),
    # replacing N_MINHASH md5(concat(...)) calls per shingle with one
    return ",\n       ".join(
        f"MIN(substr(md5(sh), {1 + 8 * j}, 8)) AS h{j}"
        for j in range(N_MINHASH)
    )


# Spark side is MAP-ONLY: the per-doc minimum of each md5 window is
# array_min over the in-row hash array — one md5 per shingle, zero
# explode, zero shuffle (the explode+groupBy shape pays a full exchange
# of every shingle row for the same multiset minimum; at 10^12 docs
# that exchange IS the job). DuckDB keeps the explode+GROUP BY form —
# an independently-shaped computation of the same values is a stronger
# oracle than a mirrored one.
_MINHASH_MAP_COLS = ",\n       ".join(
    f"array_min(transform(hs, h -> substr(h, {1 + 8 * j}, 8))) AS h{j}"
    for j in range(N_MINHASH)
)

_MINHASH_SPARK = f"""
SELECT doc_id,
       {_MINHASH_MAP_COLS}
FROM (
  SELECT doc_id,
         transform(transform(sequence(1, size(toks) - 2),
                             i -> concat_ws(' ', slice(toks, i, 3))),
                   s -> md5(s)) AS hs
  FROM (SELECT doc_id, split(text, ' ') AS toks FROM documents)
  WHERE size(toks) >= 3
)
"""

_MINHASH_DUCK = f"""
SELECT doc_id,
       {_minhash_cols('duck')}
FROM (
  SELECT doc_id, unnest(shingles) AS sh FROM (
    SELECT doc_id,
           list_transform(range(1, len(toks) - 1),
                          i -> array_to_string(toks[i:i+2], ' ')) AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    WHERE len(toks) >= 3
  )
)
GROUP BY doc_id
"""
_pair("qt05_minhash_signatures", _MINHASH_SPARK, _MINHASH_DUCK)

# -- LSH candidate pairs ------------------------------------------------------

# Banding: b bands of r rows — candidate iff SOME band matches entirely
# (probability 1-(1-s^r)^b for Jaccard s). Two bands (h0,h1) and (h2,h3)
# as a UNION of equi-joins: each band is a plain hash join on a 64-bit-ish
# key, AQE-skew-splittable; at 10^12 docs a hot band value (boilerplate
# pages) additionally gets a salt column appended to the band key. A
# single-band join (the previous shape) misses near-dups whose first two
# minhashes differ — recall, not just scale, is why banding exists.
_LSH_BODY = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM {T} a JOIN {T} b
  ON a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id
UNION
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM {T} a JOIN {T} b
  ON a.h2 = b.h2 AND a.h3 = b.h3 AND a.doc_id < b.doc_id
"""
_LSH_MAIN = _LSH_BODY.replace("{T}", "qt06_sigs")
_LSH_DUCK = f"""
WITH sigs AS ({_MINHASH_DUCK})
{_LSH_BODY.replace("{T}", "sigs")}
"""
_pair_staged(
    "qt06_minhash_lsh_pairs", "qt06_sigs", _MINHASH_SPARK, _LSH_MAIN, _LSH_DUCK
)

# -- n-gram (token) Jaccard between adjacent doc ids --------------------------

_TOKS_STAGE = """
SELECT DISTINCT doc_id, tok
FROM (SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents)
WHERE tok <> ''
"""
_JACCARD_MAIN = """
WITH counts AS (SELECT doc_id, COUNT(*) AS n FROM qt07_toks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM qt07_toks a JOIN qt07_toks b
    ON a.tok = b.tok AND b.doc_id = a.doc_id + 1
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_a, s.doc_b,
       ROUND(CAST(s.n_shared AS DOUBLE)
             / (ca.n + cb.n - s.n_shared), 4) AS jaccard
FROM shared s
JOIN counts ca ON ca.doc_id = s.doc_a
JOIN counts cb ON cb.doc_id = s.doc_b
"""
_JACCARD_DUCK = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
),
{_JACCARD_MAIN.replace("qt07_toks", "toks").split("WITH ", 1)[1]}
"""
_pair_staged(
    "qt07_token_jaccard_adjacent", "qt07_toks", _TOKS_STAGE, _JACCARD_MAIN,
    _JACCARD_DUCK,
)

# -- SimHash (16-bit, from md5 nibble high-bits) ------------------------------


def _simhash_bits() -> str:
    # bit j source: high bit of hex nibble j of md5(tok): nibble in 8..f
    terms = []
    for j in range(16):
        terms.append(
            f"CASE WHEN SUM(CASE WHEN substr(h, {j + 1}, 1) IN "
            f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 "
            f"THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(terms)


_SIMHASH_BODY = f"""
SELECT doc_id, CAST({_simhash_bits()} AS BIGINT) AS simhash16
FROM (
  SELECT DISTINCT doc_id, md5(tok) AS h
  FROM (SELECT doc_id, {{TOKFN}} AS tok FROM documents)
  WHERE tok <> ''
)
GROUP BY doc_id
"""
# Spark side dedups token hashes IN-ROW (array_distinct) before the
# explode: the generic DISTINCT pays an exchange of every (doc_id, hash)
# row, while after in-row dedup the groupBy's map-side partial aggregation
# compresses each doc to one row before the only remaining (tiny) exchange.
_SIMHASH_SPARK = f"""
SELECT doc_id, CAST({_simhash_bits()} AS BIGINT) AS simhash16
FROM (
  SELECT doc_id,
         explode(array_distinct(transform(
             filter(split(text, ' '), t -> t <> ''), t -> md5(t)))) AS h
  FROM documents
)
GROUP BY doc_id
"""
_SIMHASH_DUCK = _SIMHASH_BODY.replace("{TOKFN}", "unnest(string_split(text, ' '))")
_pair("qt08_simhash", _SIMHASH_SPARK, _SIMHASH_DUCK)

# -- SimHash near-dup pairs: 64-bit signature, 4 x 16-bit band join ----------
#
# Scale cost model: a Hamming<=3 match over a 64-bit signature must agree
# exactly on >=1 of 4 disjoint 16-bit bands (pigeonhole), so candidates per
# band ~ N^2 / 2 / 2^16 — at N = 10^9 that is ~7.6e12 candidate pairs
# spread over 2^16 hash-join buckets per band, each an equi-join AQE can
# split further (per-band salting = appending a salt column to the band key
# when one band value is hot). The previous 16-bit/8-bit-band scheme put
# N^2/2^8 pairs in each bucket — quadratic blowup already visible at sf0.01
# (40k pairs from 500 docs); this scheme yields only true near-dups.
#
# Bit j of the signature (j = 0..63) is the sign of the per-document sum of
# bit (j%4) of hex nibble (j//4) of md5(token) — portable to DuckDB because
# the nibble value comes from instr('0123456789abcdef', ch)-1 and the bit
# from floor-division arithmetic. The signature is carried as four 16-bit
# band columns b0..b3 (always positive — no BIGINT sign/shift pitfalls).


def _band_expr(k: int) -> str:
    bits = []
    for j in range(16):
        g = 16 * k + j
        nib, bit = g // 4 + 1, g % 4
        term = (
            f"CASE WHEN CAST(floor("
            f"(instr('0123456789abcdef', substr(h, {nib}, 1)) - 1) "
            f"/ {1 << bit}) AS INT) % 2 = 1 THEN 1 ELSE -1 END"
        )
        bits.append(f"CASE WHEN SUM({term}) > 0 THEN {1 << j} ELSE 0 END")
    return "CAST(" + " + ".join(bits) + f" AS BIGINT) AS b{k}"


_SIMHASH64_BODY = f"""
SELECT doc_id,
       {", ".join(_band_expr(k) for k in range(4))}
FROM (
  SELECT DISTINCT doc_id, md5(tok) AS h
  FROM (SELECT doc_id, {{TOKFN}} AS tok FROM documents)
  WHERE tok <> ''
)
GROUP BY doc_id
"""
# Spark side dedups tokens IN-ROW (array_distinct) before exploding: the
# generic DISTINCT form pays an exchange of every (doc_id, hash) token row,
# while after in-row dedup the groupBy's map-side partial aggregation
# compresses each doc to ONE row before the only remaining (tiny) exchange.
_SIMHASH64_SPARK = f"""
SELECT doc_id,
       {", ".join(_band_expr(k) for k in range(4))}
FROM (
  SELECT doc_id,
         explode(array_distinct(transform(
             filter(split(text, ' '), t -> t <> ''), t -> md5(t)))) AS h
  FROM documents
)
GROUP BY doc_id
"""
_SIMHASH64_DUCK = _SIMHASH64_BODY.replace(
    "{TOKFN}", "unnest(string_split(text, ' '))"
)

_HAMMING_SPARK = " + ".join(
    f"bit_count(a.b{k} ^ b.b{k})" for k in range(4)
)
_HAMMING_DUCK = " + ".join(
    f"bit_count(xor(a.b{k}, b.b{k}))" for k in range(4)
)


def _simhash_pairs_main(table: str, hamming: str, with_prefix: str = "WITH") -> str:
    joins = "\n  UNION\n".join(
        f"""  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         {hamming} AS hamming
  FROM {table} a JOIN {table} b
    ON a.b{k} = b.b{k} AND a.doc_id < b.doc_id"""
        for k in range(4)
    )
    return f"""
{with_prefix} cand AS (
{joins}
)
SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
FROM cand WHERE hamming <= 3
"""


_SIMHASH_PAIRS_MAIN = _simhash_pairs_main("qt09_sh", _HAMMING_SPARK)
_SIMHASH_PAIRS_DUCK = f"WITH sh AS ({_SIMHASH64_DUCK})" + _simhash_pairs_main(
    "sh", _HAMMING_DUCK, with_prefix=","
)
_pair_staged(
    "qt09_simhash_near_pairs", "qt09_sh", _SIMHASH64_SPARK, _SIMHASH_PAIRS_MAIN,
    _SIMHASH_PAIRS_DUCK,
)

# -- LSH candidates -> exact Jaccard verification (the full dedup shape) ------
#
# The production near-dup pipeline is candidates-then-verify: the banded
# MinHash join proposes O(near-dups) pairs, and only those pairs pay the
# exact token-set Jaccard. The candidate set is tiny relative to N, so the
# verify join broadcasts it against the token table — never an all-pairs
# product. Threshold 0.5 keeps true near-dups.

_QT11_CAND = _LSH_BODY.replace("{T}", "qt11_sigs")
_QT11_VERIFY = """
WITH cand AS ({CAND}),
tok_counts AS (SELECT doc_id, COUNT(*) AS n FROM {TOKS} GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN {TOKS} ta ON ta.doc_id = c.doc_a
  JOIN {TOKS} tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY c.doc_a, c.doc_b
)
SELECT s.doc_a, s.doc_b,
       ROUND(CAST(s.n_shared AS DOUBLE)
             / (ca.n + cb.n - s.n_shared), 4) AS jaccard
FROM shared s
JOIN tok_counts ca ON ca.doc_id = s.doc_a
JOIN tok_counts cb ON cb.doc_id = s.doc_b
WHERE CAST(s.n_shared AS DOUBLE) / (ca.n + cb.n - s.n_shared) >= 0.5
"""


def _qt11(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    _stage(spark, "qt11_sigs", _MINHASH_SPARK)
    _stage(spark, "qt11_toks", _TOKS_STAGE)
    return spark.sql(
        _QT11_VERIFY.replace("{CAND}", _QT11_CAND).replace("{TOKS}", "qt11_toks")
    )


QUERIES["qt11_lsh_verified_dups"] = _qt11
ORACLE["qt11_lsh_verified_dups"] = (
    f"WITH sigs AS ({_MINHASH_DUCK}), toks AS ("
    "SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, "
    "unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''"
    "), "
    + _QT11_VERIFY.replace("{CAND}", _LSH_BODY.replace("{T}", "sigs"))
    .replace("{TOKS}", "toks")
    .replace("WITH cand", "cand")
    .lstrip()
)

# -- document fingerprint -----------------------------------------------------

# floor() because CAST(double AS BIGINT) truncates in Spark but rounds in
# DuckDB
_FP = """
SELECT doc_id,
       md5(substr(text, 1, 64)) AS head_fp,
       md5(concat(lang, ':', source)) AS meta_fp,
       CAST(floor(length(text) / 100) AS BIGINT) AS len_bucket
FROM documents
"""
_pair("qt10_fingerprint", _FP, _FP)

# -- BPE-ish regex token counting ---------------------------------------------
#
# qt02 counts whitespace tokens; subword tokenizers split closer to
# letter-runs / digit-runs / single punctuation. The class
# [A-Za-z]+|[0-9]+|single-non-alnum is the engine-portable core of that
# behavior (identical under Java regex and RE2); counts approximate real
# BPE token counts well enough for length filtering and cost estimation.

_BPEISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
_BPEISH = """
SELECT doc_id,
       CAST({LEN}(regexp_extract_all(text, '{RE}', 0)) AS BIGINT)
         AS n_subword_tokens,
       CAST({LEN}(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT)
         AS n_word_tokens,
       CAST({LEN}(regexp_extract_all(text, '[0-9]+', 0)) AS BIGINT)
         AS n_number_tokens
FROM documents
"""
_pair(
    "qt12_bpeish_token_count",
    _BPEISH.replace("{LEN}", "size").replace("{RE}", _BPEISH_RE),
    _BPEISH.replace("{LEN}", "len").replace("{RE}", _BPEISH_RE),
)

# -- k-gram min-hash fingerprint (winnowing-style rolling fingerprint) --------
#
# Every 8-byte gram of the document is hashed; the lexicographic MIN of the
# gram hashes is a content fingerprint stable under edits far from the
# minimizing gram (the winnowing family's global-min degenerate case), and
# the distinct-gram count is a length-normalized novelty signal. All
# map-side: explode(k-grams) + one groupBy.

# Spark side map-only (same rationale as the minhash rewrite: the
# explode+groupBy pays an exchange of every gram row; array_min /
# array_distinct compute the identical per-doc values in-row)
_KGRAM_SPARK = """
SELECT doc_id,
       array_min(grams) AS min_gram_fp,
       CAST(size(array_distinct(grams)) AS BIGINT) AS n_distinct_grams
FROM (
  SELECT doc_id, transform(sequence(1, length(text) - 7),
                           i -> md5(substr(text, i, 8))) AS grams
  FROM documents WHERE length(text) >= 8
)
"""
_KGRAM_DUCK = """
SELECT doc_id,
       MIN(g) AS min_gram_fp,
       CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_grams
FROM (
  SELECT doc_id, unnest(list_transform(range(1, length(text) - 6),
                                       i -> md5(substr(text, i, 8)))) AS g
  FROM documents WHERE length(text) >= 8
)
GROUP BY doc_id
"""
_pair("qt13_kgram_min_fingerprint", _KGRAM_SPARK, _KGRAM_DUCK)

# -- near-dup clustering: connected components over LSH candidate edges -------
#
# The dedup ENDGAME: qt06's candidate pairs are edges, and the actual dedup
# action is "keep one document per connected component". Components are
# computed by iterative min-label propagation over DataFrames: each round
# every node takes the min component id among itself and its neighbors
# (one equi-join + one min-aggregation — both plain shuffles Catalyst/AQE
# plan like any other). LSH components are near-cliques (every near-dup
# pair shares a band value), so the graph diameter — which bounds the
# round count — is tiny; for adversarial diameters the same per-round
# dataflow generalizes to large-star/small-star (Kiveris et al.,
# "Connected Components in MapReduce and Beyond", SoCC'14), which
# converges in O(log^2 n) rounds.
#
# Convergence uses the monotone invariant sum(comp): labels only ever
# decrease, so an unchanged sum IS a fixed point — one cheap aggregate per
# round instead of a change-count self-join. Each round persists its label
# table and releases the previous one; at 10^12 scale those persists
# become writes to an intermediate table, which also truncates the plan
# lineage the iteration would otherwise accumulate.

_QT14_MAX_ROUNDS = 30  # diameter cap; LSH clusters converge in 2-3

_QT14_FINAL = """
SELECT doc_id, comp AS component,
       CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size
FROM qt14_labels
"""


def _qt14(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_views(spark, sf)
    _stage(spark, "qt06_sigs", _MINHASH_SPARK)
    _evict_stale_stages(spark)
    key = "<qt14 min-label propagation over>" + _MINHASH_SPARK
    prev = _STAGED_CACHE.get("qt14_labels")
    if prev is None or prev[0] != key:
        edges = spark.sql(_LSH_MAIN)
        und = (
            edges.selectExpr("doc_a AS src", "doc_b AS dst")
            .unionAll(edges.selectExpr("doc_b AS src", "doc_a AS dst"))
            .persist()
        )
        labels = (
            und.select(F.col("src").alias("doc_id"))
            .distinct()
            .withColumn("comp", F.col("doc_id"))
        )
        prev_sum: object = object()  # sum is legitimately None on empty input
        prev_labels = None
        for _ in range(_QT14_MAX_ROUNDS):
            labels = labels.persist()
            cur_sum = labels.agg(F.sum("comp")).collect()[0][0]
            if prev_labels is not None:
                prev_labels.unpersist()
            prev_labels = labels
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
            nbr = (
                und.join(labels, und["dst"] == labels["doc_id"])
                .groupBy("src")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            labels = labels.join(
                nbr, labels["doc_id"] == nbr["src"], "left"
            ).select(
                labels["doc_id"],
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
            )
        und.unpersist()
        if prev is not None:
            try:
                prev[1].unpersist()
            except Exception:  # stale session entry: cache died with it
                pass
        prev_labels.createOrReplaceTempView("qt14_labels")
        _STAGED_CACHE["qt14_labels"] = (key, prev_labels)
    return spark.sql(_QT14_FINAL)


QUERIES["qt14_dup_clusters"] = _qt14
ORACLE["qt14_dup_clusters"] = f"""
WITH RECURSIVE sigs AS ({_MINHASH_DUCK}),
edges AS ({_LSH_BODY.replace("{T}", "sigs")}),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM edges
),
reach(doc_id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.doc_id
),
comp AS (SELECT doc_id, MIN(r) AS component FROM reach GROUP BY doc_id)
SELECT doc_id, component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
FROM comp
"""

# -- deterministic stratified sampling ----------------------------------------
#
# Training mixes need per-stratum (language) samples whose membership is
# REPRODUCIBLE across runs, engines, and cluster sizes — rand() is none of
# those. The keep decision hashes the doc id (3 md5 hex nibbles = 12
# uniform bits, extracted with the same portable instr() arithmetic as
# qt09's SimHash bands) and keeps v/4096 < target/stratum_n, evaluated as
# v * n < target * 4096 in EXACT integer arithmetic. One scan plus a
# broadcast join against the tiny per-lang count dim; the rate
# self-adjusts so every stratum yields ~TARGET docs regardless of its
# population — exactly the oversampling control a 10^12-doc mix needs.

_QT15_TARGET = 40
_QT15_BODY = """
WITH strata AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang
FROM documents d JOIN strata s ON d.lang = s.lang
WHERE (  (instr('0123456789abcdef', substr(md5({DID}), 1, 1)) - 1) * 256
       + (instr('0123456789abcdef', substr(md5({DID}), 2, 1)) - 1) * 16
       + (instr('0123456789abcdef', substr(md5({DID}), 3, 1)) - 1)
      ) * s.n < {T} * 4096
"""
_pair(
    "qt15_stratified_sample",
    _QT15_BODY.replace("{DID}", "CAST(d.doc_id AS STRING)")
    .replace("{T}", str(_QT15_TARGET)),
    _QT15_BODY.replace("{DID}", "CAST(d.doc_id AS VARCHAR)")
    .replace("{T}", str(_QT15_TARGET)),
)

# -- corpus-wide n-gram top-k -------------------------------------------------
#
# Vocabulary/boilerplate analysis: the most frequent word bigrams across
# the corpus. Map-side explode + partial aggregation (whole-stage codegen,
# map-side combine makes the shuffle carry one row per distinct gram per
# task, not per occurrence), then ORDER BY + LIMIT plans as TakeOrdered —
# a per-partition top-k followed by a k-row driver merge, never a full
# sort. Tie at the cut broken by the gram string so the k rows are
# engine-deterministic.

_NGRAM_TOPK_SPARK = """
SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT explode(transform(sequence(1, size(toks) - 1),
                           i -> concat_ws(' ', slice(toks, i, 2)))) AS gram
  FROM (SELECT split(text, ' ') AS toks FROM documents)
  WHERE size(toks) >= 2
)
GROUP BY gram
ORDER BY cnt DESC, gram
LIMIT 25
"""
_NGRAM_TOPK_DUCK = """
SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> array_to_string(toks[i:i+1], ' '))) AS gram
  FROM (SELECT string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 2
)
GROUP BY gram
ORDER BY cnt DESC, gram
LIMIT 25
"""
_pair("qt16_ngram_topk", _NGRAM_TOPK_SPARK, _NGRAM_TOPK_DUCK)

# -- per-document keyword extraction (tf-idf-style top terms) -----------------
#
# The classic IR shape: term frequency per doc, document frequency per
# term, score = tf * (N+1)/(df+1), top-3 terms per doc by window
# ROW_NUMBER. The idf factor is the RAW inverse ratio rather than its log:
# tf*(N+1) is an exact small-integer product in double and (df+1) divides
# it in one correctly-rounded IEEE op, so the score — and therefore the
# rank cut — is bit-identical across engines, where ln() (only 1-ulp
# accurate in java.lang.Math) could flip a rank at a near-tie. log-idf is
# a monotone transform of the ratio for fixed tf, and the ranking question
# this query answers is within-document. Dataflow: two aggregations + a
# broadcast scalar (1-row corpus count) + a window top-k partitioned by
# doc — every stage shuffle-bounded by distinct (doc, term).

_KEYWORD_TOPK = """
WITH tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, {TOKFN} AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, tok
),
docfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
corpus AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.tok,
         CAST(t.tf AS DOUBLE) * (c.n_docs + 1) / (d.df + 1) AS score
  FROM tf t JOIN docfreq d ON t.tok = d.tok CROSS JOIN corpus c
)
SELECT doc_id, tok AS term, ROUND(score, 4) AS tfidf_score,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT doc_id, tok, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok) AS rnk
  FROM scored
)
WHERE rnk <= 3
"""
_pair(
    "qt17_keyword_topk",
    _KEYWORD_TOPK.replace("{TOKFN}", "explode(split(text, ' '))"),
    _KEYWORD_TOPK.replace("{TOKFN}", "unnest(string_split(text, ' '))"),
)

# -- per-source corpus profile ------------------------------------------------

# Crawl-ops dashboard shape: one scan, one groupBy on the (low-cardinality)
# source key — COUNT DISTINCT md5(text) rides the same shuffle as the other
# aggregates (partial_count(distinct) is map-side expanded by Catalyst).
# avg is computed as SUM/COUNT of exact integers (one correctly-rounded
# divide) rather than AVG so both engines round the same double.
_SOURCE_PROFILE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(CAST(length(text) AS BIGINT)) AS DOUBLE) / COUNT(*), 2)
         AS avg_chars,
       CAST(SUM(CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_len_ok,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
FROM documents GROUP BY source
"""
_pair("qt18_source_profile", _SOURCE_PROFILE, _SOURCE_PROFILE)

# -- benchmark-contamination probe -------------------------------------------

# Train/test decontamination, the standard 13-gram membership check
# (GPT-3 appendix C / PaLM / Llama data cards all use word n-gram overlap):
# a probe set (here: the first 13-gram of every doc_id % 97 == 0 document,
# standing in for a benchmark's prompts) is matched against EVERY 13-gram
# of the corpus. Dataflow at 10^12 docs: the probe side is tiny ->
# broadcast; the corpus side explodes to one row per shingle but never
# shuffles (the join is map-side against the broadcast), and the only wide
# stage is the final per-probe distinct-doc count, bounded by |matches|.
# Spark `sequence(1, size-12)` would generate a DESCENDING range for short
# docs, so the size >= 13 filter sits inside the subquery, before explode.
_CONTAMINATION_SPARK = """
WITH words AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
probes AS (
  SELECT doc_id AS pid, array_join(slice(w, 1, 13), ' ') AS probe
  FROM words WHERE doc_id % 97 = 0 AND size(w) >= 13),
shingles AS (
  SELECT doc_id, explode(transform(sequence(1, size(w) - 12),
                                   i -> array_join(slice(w, i, 13), ' '))) AS sh
  FROM words WHERE size(w) >= 13)
SELECT /*+ BROADCAST(probes) */
       pid, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated
FROM probes JOIN shingles ON probe = sh
GROUP BY pid
"""
_CONTAMINATION_DUCK = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
probes AS (
  SELECT doc_id AS pid, array_to_string(w[1:13], ' ') AS probe
  FROM words WHERE doc_id % 97 = 0 AND len(w) >= 13),
shingles AS (
  SELECT doc_id, array_to_string(w[i:i+12], ' ') AS sh
  FROM words, LATERAL unnest(range(1, greatest(len(w) - 11, 1))) AS t(i)
  WHERE len(w) >= 13)
SELECT pid, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_contaminated
FROM probes JOIN shingles ON probe = sh
GROUP BY pid
"""
_pair("qt19_contamination_probe", _CONTAMINATION_SPARK, _CONTAMINATION_DUCK)


# --- qt21: text normalization (the CCNet/RefinedWeb-style cleanup step) -------
#
# Unicode NFC + control-char strip + whitespace collapse, the first map
# stage of every LLM-corpus pipeline. Control strip and whitespace
# collapse stay declarative (codegen'd regexp_replace); NFC has no Spark
# built-in, so it is the one deliberately Arrow-batched pandas-UDF hop
# (vectorized per batch, never per-row Python through Spark). The DuckDB
# oracle runs its own independent NFC (nfc_normalize) — cross-library
# agreement is the check. A deterministic messy prefix (combining accent,
# TAB, BEL, run of spaces) exercises every rule on every row.

_CTRL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def _nfc_udf():
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    # not map_records: a scalar Series -> Series UDF inside a projection
    @F.pandas_udf("string")
    def nfc(s):
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return nfc


def normalize_text(col):
    """Canonical training-text form of a string column: control chars
    stripped, whitespace runs collapsed to single spaces, trimmed, NFC."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _CTRL_CLASS, "")
    c = F.trim(F.regexp_replace(c, "[ \\t\\n\\r]+", " "))
    return _nfc_udf()(c)


def _qt21(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    from pdf_spark.functions.tables import load

    docs = load(spark, sf, "documents").select("doc_id", "text")
    # A + combining-acute (U+0301) composes to Á under NFC; \t\x07 and the
    # double space exercise strip + collapse on every row.
    messy = F.concat(F.lit("A\u0301\t\x07 x  "), F.col("text"))
    norm = normalize_text(messy)
    return docs.select(
        "doc_id",
        norm.alias("text_norm"),
        F.length(norm).cast("long").alias("n_chars"),
    )


QUERIES["qt21_text_normalize"] = _qt21
ORACLE["qt21_text_normalize"] = r"""
WITH normed AS (
  SELECT doc_id,
         nfc_normalize(trim(regexp_replace(regexp_replace(
             'A' || chr(769) || chr(9) || chr(7) || ' x  ' || text,
             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
             '[ \t\n\r]+', ' ', 'g'))) AS text_norm
  FROM documents)
SELECT doc_id, text_norm, CAST(length(text_norm) AS BIGINT) AS n_chars
FROM normed
"""


# --- qt22: Gopher-style quality rules (Rae et al. 2021, public report) --------
#
# The canonical LLM-corpus document filter, fully declarative on both
# sides. All emitted features are INTEGERS and the keep-decision is pure
# integer arithmetic (mean-word-length in [3,10] becomes
# 3*wc <= chars <= 10*wc), so the cross-engine value hash can never trip
# on float formatting. Rules implemented (the text-shape subset that
# applies to a one-line text column): word-count bounds, mean word
# length, symbol-to-word ratio (# and ellipsis), alphabetic-word
# fraction >= 0.8, >= 2 distinct stop words.

_QT22_SPARK = """
WITH feats AS (
  SELECT doc_id,
         CAST(size(split(text, ' ')) AS BIGINT) AS word_count,
         aggregate(split(text, ' '), 0L, (a, w) -> a + length(w)) AS total_chars,
         CAST(size(filter(split(text, ' '), w -> w rlike '[a-zA-Z]')) AS BIGINT)
           AS n_alpha,
         CAST(size(array_intersect(split(text, ' '),
              array('the','a','of','to','and','in','on','with'))) AS BIGINT)
           AS n_stop,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) DIV 3
              AS BIGINT) AS n_symbols
  FROM documents)
SELECT doc_id, word_count, total_chars, n_alpha, n_stop, n_symbols,
       (word_count >= 50 AND word_count <= 100000
        AND total_chars >= 3 * word_count AND total_chars <= 10 * word_count
        AND 10 * n_symbols <= word_count
        AND 10 * n_alpha >= 8 * word_count
        AND n_stop >= 2) AS keep
FROM feats
"""

_QT22_DUCK = """
WITH feats AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS word_count,
         CAST(list_aggregate(list_transform(string_split(text, ' '),
                                            w -> length(w)), 'sum') AS BIGINT)
           AS total_chars,
         CAST(len(list_filter(string_split(text, ' '),
                              w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)
           AS n_alpha,
         CAST(len(list_intersect(string_split(text, ' '),
              ['the','a','of','to','and','in','on','with'])) AS BIGINT)
           AS n_stop,
         CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS n_symbols
  FROM documents)
SELECT doc_id, word_count, total_chars, n_alpha, n_stop, n_symbols,
       (word_count >= 50 AND word_count <= 100000
        AND total_chars >= 3 * word_count AND total_chars <= 10 * word_count
        AND 10 * n_symbols <= word_count
        AND 10 * n_alpha >= 8 * word_count
        AND n_stop >= 2) AS keep
FROM feats
"""

_pair("qt22_gopher_quality", _QT22_SPARK, _QT22_DUCK)


# --- qt23: Gopher repetition rules (the other half of the quality filter) -----
#
# Repetition signals from the same public report: the fraction of the doc
# claimed by its single most frequent 2-gram (<= 0.20) and the duplicate
# -word fraction (<= 0.50). Shape: explode bigrams -> two groupBys — the
# count-then-max cascade is all partial-aggregatable, so at 10^12 docs it
# is two map-side-combined shuffles on doc_id. Integer-only outputs.

# Spark side map-only: the most frequent bigram's count equals the
# longest equal-run in the SORTED in-row bigram array, computed by a
# single `aggregate` fold — where the explode -> GROUP BY (doc_id, bg)
# form exchanges every bigram row of the corpus. DuckDB keeps the
# grouped form: an independently-shaped oracle of the same values.
_QT23_SPARK = """
WITH words AS (
  SELECT doc_id, split(text, ' ') AS w FROM documents WHERE size(split(text, ' ')) >= 2),
feats AS (
  SELECT doc_id, w,
         sort_array(transform(sequence(1, size(w) - 1),
                    i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))) AS bgs
  FROM words)
SELECT doc_id, top_bigram, n_bigrams, n_words, n_distinct,
       (5 * top_bigram <= n_bigrams
        AND 2 * (n_words - n_distinct) <= n_words) AS keep
FROM (
  SELECT doc_id,
         aggregate(bgs,
                   named_struct('prev', '', 'run', 0L, 'best', 0L),
                   (a, x) -> named_struct(
                     'prev', x,
                     'run', IF(x = a.prev, a.run + 1, 1L),
                     'best', greatest(a.best, IF(x = a.prev, a.run + 1, 1L))),
                   a -> a.best) AS top_bigram,
         CAST(size(bgs) AS BIGINT) AS n_bigrams,
         CAST(size(w) AS BIGINT) AS n_words,
         CAST(size(array_distinct(w)) AS BIGINT) AS n_distinct
  FROM feats
)
"""

_QT23_DUCK = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2),
bigrams AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
  FROM words, LATERAL unnest(range(1, len(w))) AS t(i)),
counts AS (SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg),
top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram,
               CAST(SUM(c) AS BIGINT) AS n_bigrams
        FROM counts GROUP BY doc_id),
dups AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
         FROM words)
SELECT t.doc_id, top_bigram, n_bigrams, n_words, n_distinct,
       (5 * top_bigram <= n_bigrams AND 2 * (n_words - n_distinct) <= n_words)
         AS keep
FROM top t JOIN dups d ON t.doc_id = d.doc_id
"""

_pair("qt23_repetition_rules", _QT23_SPARK, _QT23_DUCK)


# --- qt24: corpus-frequency commonness score (the CCNet shape) -----------------
#
# CCNet buckets documents by LM perplexity; with no LM in the container,
# the same DATAFLOW is exercised with corpus unigram frequencies as the
# model: global word counts (one groupBy), joined back to the exploded
# words (at 10^12 docs the frequency table is top-K-truncated and
# BROADCAST — the join never shuffles the corpus side twice), summed per
# doc. Integer outputs only.

_QT24_SPARK = """
WITH words AS (SELECT doc_id, explode(split(text, ' ')) AS w FROM documents),
freq AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS commonness,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(MIN(c) AS BIGINT) AS rarest
FROM words JOIN freq USING (w)
GROUP BY doc_id
"""

_QT24_DUCK = """
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
freq AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS commonness,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(MIN(c) AS BIGINT) AS rarest
FROM words JOIN freq USING (w)
GROUP BY doc_id
"""

_pair("qt24_word_commonness", _QT24_SPARK, _QT24_DUCK)


# --- qt25: paragraph-level exact dedup (the CCNet/Dolma unit of dedup) --------
#
# CCNet (Wenzek et al. 2020) and Dolma deduplicate at PARAGRAPH
# granularity, not document granularity: hash every paragraph, count
# global occurrences, drop (or flag) paragraphs seen elsewhere in the
# corpus. The documents table is a single-line word soup, so paragraphs
# are derived deterministically as consecutive 20-word chunks — the
# DATAFLOW is the real one: chunk (map-side) -> explode -> one groupBy on
# the paragraph hash (partial-agg combines upstream) -> hash-join the
# frequency table back. At 10^12 docs the frequency table is itself
# corpus-sized, so the join back is a shuffle join on md5 — evenly
# distributed by construction (hash keys don't skew), which is why
# paragraph dedup scales where URL-keyed joins need salting. Outputs are
# integers only (dup decision as 2*dup <= total, no float hashes).

_QT25_SPARK = """
WITH paras AS (
  SELECT doc_id,
         explode(transform(sequence(0, (size(split(text, ' ')) - 1) DIV 20),
                 i -> array_join(slice(split(text, ' '), i * 20 + 1, 20), ' ')))
           AS para
  FROM documents),
hashed AS (SELECT doc_id, md5(para) AS h FROM paras),
freq AS (SELECT h, COUNT(*) AS c FROM hashed GROUP BY h)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
       CAST(MAX(c) AS BIGINT) AS max_para_freq,
       (2 * SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) <= COUNT(*)) AS keep
FROM hashed JOIN freq USING (h)
GROUP BY doc_id
"""

_QT25_DUCK = """
WITH paras AS (
  SELECT doc_id,
         unnest(list_transform(range(0, (len(string_split(text, ' ')) - 1) // 20 + 1),
                i -> array_to_string(string_split(text, ' ')[i * 20 + 1 : i * 20 + 20], ' ')))
           AS para
  FROM documents),
hashed AS (SELECT doc_id, md5(para) AS h FROM paras),
freq AS (SELECT h, COUNT(*) AS c FROM hashed GROUP BY h)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
       CAST(MAX(c) AS BIGINT) AS max_para_freq,
       (2 * SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) <= COUNT(*)) AS keep
FROM hashed JOIN freq USING (h)
GROUP BY doc_id
"""

_pair("qt25_paragraph_dedup", _QT25_SPARK, _QT25_DUCK)


# --- qt26: PII detection + masking (the Dolma scrub pass) ---------------------
#
# Dolma's PII tagger finds emails / phone numbers / IP addresses with
# regexes and masks them before training. The corpus text carries no PII,
# so each doc deterministically plants its own (email when doc_id%3=0,
# phone when %5=0, IPv4 when %7=0) — the measured operation is the real
# one: three regexp_extract_all counts + a chained regexp_replace mask,
# all map-side JVM expressions (one narrow stage, no shuffle, scales
# linearly to 10^12 docs). Patterns avoid lookarounds so Java regex and
# RE2 agree byte-for-byte.

_QT26_SPARK = """
WITH planted AS (
  SELECT doc_id,
         concat(substr(text, 1, 80),
                CASE WHEN doc_id % 3 = 0
                     THEN concat(' user', CAST(doc_id AS STRING), '@mail.example.com') ELSE '' END,
                CASE WHEN doc_id % 5 = 0
                     THEN concat(' +1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END,
                CASE WHEN doc_id % 7 = 0
                     THEN concat(' 10.', CAST(doc_id % 256 AS STRING), '.0.1') ELSE '' END)
           AS t
  FROM documents)
SELECT doc_id,
       CAST(size(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', 0)) AS BIGINT) AS n_email,
       CAST(size(regexp_extract_all(t, '[+]1-555-[0-9]{4}', 0)) AS BIGINT) AS n_phone,
       CAST(size(regexp_extract_all(t, '10[.][0-9]{1,3}[.]0[.]1', 0)) AS BIGINT) AS n_ip,
       regexp_replace(regexp_replace(regexp_replace(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>'),
           '[+]1-555-[0-9]{4}', '<PHONE>'),
           '10[.][0-9]{1,3}[.]0[.]1', '<IP>') AS masked
FROM planted
"""

_QT26_DUCK = """
WITH planted AS (
  SELECT doc_id,
         substr(text, 1, 80)
         || CASE WHEN doc_id % 3 = 0
                 THEN ' user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END
           AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '[+]1-555-[0-9]{4}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '10[.][0-9]{1,3}[.]0[.]1')) AS BIGINT) AS n_ip,
       regexp_replace(regexp_replace(regexp_replace(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[+]1-555-[0-9]{4}', '<PHONE>', 'g'),
           '10[.][0-9]{1,3}[.]0[.]1', '<IP>', 'g') AS masked
FROM planted
"""

_pair("qt26_pii_mask", _QT26_SPARK, _QT26_DUCK)


# --- qt27: training sequence packing (greedy cumulative-sum binning) ----------
#
# Pretraining dataloaders pack variable-length documents into fixed
# TOKEN-budget sequences (e.g. 2048); the corpus-side version of that is
# a cumulative token sum per shard, integer-divided by the budget. Done
# globally this is a single-partition window (a scale-killer), so the
# window is PARTITIONED BY source — exactly how a real packer runs one
# ordering per shard/worker. Per (source, seq_id) the query reports docs
# packed, tokens used, and the boundary doc that straddles the budget.

_QT27_SPARK = """
WITH toks AS (
  SELECT doc_id, source,
         CAST(size(split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
packed AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks)
SELECT source,
       CAST((cum - n_tok) DIV 2048 AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM packed
GROUP BY source, (cum - n_tok) DIV 2048
"""

_QT27_DUCK = """
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
packed AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks)
SELECT source,
       CAST((cum - n_tok) // 2048 AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM packed
GROUP BY source, (cum - n_tok) // 2048
"""

_pair("qt27_sequence_packing", _QT27_SPARK, _QT27_DUCK)


# --- qt29: hashed linear quality classifier (the fastText-filter dataflow) ----
#
# CCNet/DCLM-style model-based quality filtering scores each doc with a
# linear model over hashed bag-of-words features. No model ships in the
# container, so the weight vector is synthesized deterministically from
# the feature id — the DATAFLOW is the real one: explode words -> hash
# into a 256-bucket feature space (two md5 nibbles via the portable
# strpos-on-hex-digits trick) -> join the weight table -> sum per doc.
# The weight table is tiny by construction (a real fastText vocab is
# ~2^20 rows — still broadcast-sized), so Catalyst must broadcast it and
# the whole classifier costs ONE shuffle (the per-doc sum); the plan test
# pins BroadcastHashJoin. Integer weights keep the value hash stable.

_QT29_SPARK = """
WITH words AS (SELECT doc_id, explode(split(text, ' ')) AS w FROM documents),
feats AS (
  SELECT doc_id,
         CAST(16 * (instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1)
                 + (instr('0123456789abcdef', substr(md5(w), 2, 1)) - 1)
              AS BIGINT) AS f
  FROM words),
weights AS (
  SELECT CAST(f AS BIGINT) AS f,
         CAST((f * 2654435761) % 1001 - 500 AS BIGINT) AS wt
  FROM (SELECT explode(sequence(0, 255)) AS f))
SELECT doc_id,
       CAST(SUM(wt) AS BIGINT) AS score,
       CAST(COUNT(*) AS BIGINT) AS n_feat,
       (SUM(wt) >= 0) AS keep
FROM feats JOIN weights USING (f)
GROUP BY doc_id
"""

_QT29_DUCK = """
WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
feats AS (
  SELECT doc_id,
         CAST(16 * (instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1)
                 + (instr('0123456789abcdef', substr(md5(w), 2, 1)) - 1)
              AS BIGINT) AS f
  FROM words),
weights AS (
  SELECT CAST(f AS BIGINT) AS f,
         CAST((f * 2654435761) % 1001 - 500 AS BIGINT) AS wt
  FROM range(0, 256) t(f))
SELECT doc_id,
       CAST(SUM(wt) AS BIGINT) AS score,
       CAST(COUNT(*) AS BIGINT) AS n_feat,
       (SUM(wt) >= 0) AS keep
FROM feats JOIN weights USING (f)
GROUP BY doc_id
"""

_pair("qt29_hashed_linear_quality", _QT29_SPARK, _QT29_DUCK)


# --- qt30: the full filter stack as ONE plan (composition capstone) -----------
#
# A real corpus build runs every filter in one pass, not one job per rule:
# this composes the four verified decisions (Gopher quality qt22,
# repetition qt23, paragraph dedup qt25, linear classifier qt29) by
# textual reuse of their SQL — Catalyst plans the union of their
# dataflows (three explode+groupBy subtrees + one broadcast join) and
# shares the documents scan; the final keep is the conjunction. Like
# qx20, the capstone is only green if every component AND the composition
# arithmetic agree across engines.

_QT30_SPARK = f"""
SELECT g.doc_id,
       g.keep AS gopher, r.keep AS repetition,
       p.keep AS paradup, c.keep AS classifier,
       (g.keep AND r.keep AND p.keep AND c.keep) AS keep
FROM ({_QT22_SPARK}) g
JOIN ({_QT23_SPARK}) r ON g.doc_id = r.doc_id
JOIN ({_QT25_SPARK}) p ON g.doc_id = p.doc_id
JOIN ({_QT29_SPARK}) c ON g.doc_id = c.doc_id
"""

_QT30_DUCK = f"""
SELECT g.doc_id,
       g.keep AS gopher, r.keep AS repetition,
       p.keep AS paradup, c.keep AS classifier,
       (g.keep AND r.keep AND p.keep AND c.keep) AS keep
FROM ({_QT22_DUCK}) g
JOIN ({_QT23_DUCK}) r ON g.doc_id = r.doc_id
JOIN ({_QT25_DUCK}) p ON g.doc_id = p.doc_id
JOIN ({_QT29_DUCK}) c ON g.doc_id = c.doc_id
"""

_pair("qt30_filter_stack", _QT30_SPARK, _QT30_DUCK)


# --- qt31: salted skew join (the 100 TB skew technique as a first-class op) ----
#
# A URL-host / domain-keyed join at crawl scale always has a hot key (one
# CDN/host owns a double-digit share of the corpus). The fix is salting:
# the fact side appends salt = hash % S to the hot key, the dim side
# EXPLODES its hot rows into all S salted twins (dims are small — the
# explode is S rows, the broadcast stays tiny), and the join key becomes
# (key, salt) — the hot key's rows now land on S shuffle partitions
# instead of one straggler. This query engineers the skew (70% of docs on
# one key), joins BOTH ways inside one statement, and returns per-key
# totals that only match the oracle if the salted join loses/duplicates
# nothing. Salt is deterministic (doc_id % S), so the result is
# engine-independent.

_QT31_SALT = 8

_QT31_SPARK = f"""
WITH facts AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 < 7 THEN 'hot.example.com'
              ELSE concat('site', CAST(doc_id % 13 AS STRING), '.example.org')
         END AS host,
         CAST(doc_id % {_QT31_SALT} AS INT) AS salt,
         n_chars
  FROM documents),
dim AS (
  SELECT host, weight, salt
  FROM (
    SELECT 'hot.example.com' AS host, CAST(100 AS BIGINT) AS weight
    UNION ALL
    SELECT concat('site', CAST(k AS STRING), '.example.org'),
           CAST(k + 1 AS BIGINT)
    FROM (SELECT explode(sequence(0, 12)) AS k)
  )
  LATERAL VIEW explode(sequence(0, {_QT31_SALT - 1})) s AS salt)
SELECT f.host,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f.n_chars * d.weight) AS BIGINT) AS weighted_chars
FROM facts f JOIN dim d ON f.host = d.host AND f.salt = d.salt
GROUP BY f.host
"""

_QT31_DUCK = f"""
WITH facts AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 < 7 THEN 'hot.example.com'
              ELSE 'site' || CAST(doc_id % 13 AS VARCHAR) || '.example.org'
         END AS host,
         CAST(doc_id % {_QT31_SALT} AS INT) AS salt,
         n_chars
  FROM documents),
dim AS (
  SELECT host, weight, s.salt
  FROM (
    SELECT 'hot.example.com' AS host, CAST(100 AS BIGINT) AS weight
    UNION ALL
    SELECT 'site' || CAST(k AS VARCHAR) || '.example.org',
           CAST(k + 1 AS BIGINT)
    FROM range(0, 13) t(k)
  ), LATERAL (SELECT unnest(range(0, {_QT31_SALT})) AS salt) s)
SELECT f.host,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f.n_chars * d.weight) AS BIGINT) AS weighted_chars
FROM facts f JOIN dim d ON f.host = d.host AND f.salt = d.salt
GROUP BY f.host
"""

_pair("qt31_salted_skew_join", _QT31_SPARK, _QT31_DUCK)


# --- qt32: dehyphenation (line-break repair) -----------------------------------
#
# Extracted text carries end-of-line hyphenations ("exam-\\nple"); every
# corpus pipeline rejoins them before tokenization. The corpus text has
# no hyphens, so each doc plants its own deterministic hyphenated breaks
# and the op repairs them: one regexp_replace on the lowercase-letter--
# hyphen--newline--lowercase-letter pattern (never touches real hyphens
# like "state-of-the-art" inside a line or uppercase acronym breaks),
# plus the join count. Newlines are constructed with chr(10) — Spark SQL
# interprets '\\n' escapes in string literals and DuckDB does not, so an
# escape-based pattern would silently diverge between engines. Map-only.

_QT32_SPARK = """
WITH planted AS (
  SELECT doc_id,
         concat(substr(text, 1, 40), ' exam-', chr(10), 'ple of a mid-', chr(10),
                'line break, a real in-line state-of-the-art hyphen',
                CASE WHEN doc_id % 2 = 0
                     THEN concat(' and an ex-', chr(10), 'tra join') ELSE '' END)
           AS t
  FROM documents)
SELECT doc_id,
       CAST(size(regexp_extract_all(
              t, concat('([a-z])-', chr(10), '([a-z])'), 0)) AS BIGINT)
         AS n_joins,
       regexp_replace(t, concat('([a-z])-', chr(10), '([a-z])'), '$1$2')
         AS repaired
FROM planted
"""

_QT32_DUCK = """
WITH planted AS (
  SELECT doc_id,
         substr(text, 1, 40) || ' exam-' || chr(10) || 'ple of a mid-' || chr(10)
           || 'line break, a real in-line state-of-the-art hyphen'
           || CASE WHEN doc_id % 2 = 0
                   THEN ' and an ex-' || chr(10) || 'tra join' ELSE '' END
           AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(
              t, '([a-z])-' || chr(10) || '([a-z])')) AS BIGINT)
         AS n_joins,
       regexp_replace(t, '([a-z])-' || chr(10) || '([a-z])', '\\1\\2', 'g')
         AS repaired
FROM planted
"""

_pair("qt32_dehyphenate", _QT32_SPARK, _QT32_DUCK)


# --- qt33: crawl delta (two-snapshot CDC over the corpus) ----------------------
#
# Every recurring crawl asks "what changed since last time": FULL OUTER
# join of two snapshots on url, rows classified new / gone / changed /
# same by presence and content hash. Snapshots are synthesized
# deterministically from the documents table (v2 drops every 17th url,
# adds shifted urls, and edits every 5th text), so the classification
# counts are pure arithmetic. At 10^12 urls this is ONE co-partitioned
# shuffle join on the url hash — the exact shape of a production
# crawl-diff — and the md5 comparison is map-side on both legs.

_QT33_SPARK = """
WITH v1 AS (
  SELECT concat('u', CAST(doc_id AS STRING)) AS url, md5(text) AS h
  FROM documents),
v2 AS (
  SELECT concat('u', CAST(doc_id AS STRING)) AS url,
         CASE WHEN doc_id % 5 = 0 THEN md5(concat(text, ' edited'))
              ELSE md5(text) END AS h
  FROM documents WHERE doc_id % 17 != 0
  UNION ALL
  SELECT concat('new', CAST(doc_id AS STRING)), md5(text)
  FROM documents WHERE doc_id % 11 = 0)
SELECT CASE WHEN v1.url IS NULL THEN 'new'
            WHEN v2.url IS NULL THEN 'gone'
            WHEN v1.h = v2.h THEN 'same'
            ELSE 'changed' END AS change,
       CAST(COUNT(*) AS BIGINT) AS n
FROM v1 FULL OUTER JOIN v2 ON v1.url = v2.url
GROUP BY 1
"""

_QT33_DUCK = """
WITH v1 AS (
  SELECT 'u' || CAST(doc_id AS VARCHAR) AS url, md5(text) AS h
  FROM documents),
v2 AS (
  SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
         CASE WHEN doc_id % 5 = 0 THEN md5(text || ' edited')
              ELSE md5(text) END AS h
  FROM documents WHERE doc_id % 17 != 0
  UNION ALL
  SELECT 'new' || CAST(doc_id AS VARCHAR), md5(text)
  FROM documents WHERE doc_id % 11 = 0)
SELECT CASE WHEN v1.url IS NULL THEN 'new'
            WHEN v2.url IS NULL THEN 'gone'
            WHEN v1.h = v2.h THEN 'same'
            ELSE 'changed' END AS change,
       CAST(COUNT(*) AS BIGINT) AS n
FROM v1 FULL OUTER JOIN v2 ON v1.url = v2.url
GROUP BY 1
"""

_pair("qt33_crawl_delta", _QT33_SPARK, _QT33_DUCK)


# --- qt34: C4 line-level cleaning (Raffel et al. 2020 §2.2) --------------------
#
# The C4 rules: keep only lines that end in terminal punctuation AND have
# >= 5 words; drop the whole document if it contains "lorem ipsum" or a
# curly brace. The corpus text is punctuation-free, so each doc plants a
# deterministic 4-line body (one good line, one unterminated, one short,
# one good) plus per-class poison (lorem ipsum when doc_id%7=0, a brace
# when %11=0). Everything is in-row array work over split(chr(10)):
# zero exchanges, the canonical line-filter shape at any corpus size.

_QT34_SPARK = """
WITH planted AS (
  SELECT doc_id,
         concat('A good line with enough words here ', CAST(doc_id AS STRING), '.',
                chr(10), 'an unterminated line with many words in it',
                chr(10), 'Too short.',
                chr(10), 'Another proper sentence with plenty of words, id ',
                CAST(doc_id AS STRING), '!',
                CASE WHEN doc_id % 7 = 0 THEN concat(chr(10), 'Some Lorem ipsum filler text here.') ELSE '' END,
                CASE WHEN doc_id % 11 = 0 THEN concat(chr(10), 'function f() { return 1; }') ELSE '' END)
           AS t
  FROM documents),
lined AS (
  SELECT doc_id,
         filter(split(t, chr(10)),
                l -> l rlike '[.!?"]$' AND size(split(l, ' ')) >= 5) AS kept,
         CAST(size(split(t, chr(10))) AS BIGINT) AS n_lines,
         (lower(t) LIKE '%lorem ipsum%' OR t LIKE '%{%') AS poisoned
  FROM planted)
SELECT doc_id,
       n_lines,
       CAST(size(kept) AS BIGINT) AS n_kept,
       CASE WHEN poisoned THEN NULL
            ELSE array_join(kept, chr(10)) END AS cleaned,
       (NOT poisoned AND size(kept) >= 2) AS keep
FROM lined
"""

_QT34_DUCK = """
WITH planted AS (
  SELECT doc_id,
         'A good line with enough words here ' || CAST(doc_id AS VARCHAR) || '.'
           || chr(10) || 'an unterminated line with many words in it'
           || chr(10) || 'Too short.'
           || chr(10) || 'Another proper sentence with plenty of words, id '
           || CAST(doc_id AS VARCHAR) || '!'
           || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Some Lorem ipsum filler text here.' ELSE '' END
           || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'function f() { return 1; }' ELSE '' END
           AS t
  FROM documents),
lined AS (
  SELECT doc_id,
         list_filter(string_split(t, chr(10)),
                     l -> regexp_matches(l, '[.!?"]$')
                          AND len(string_split(l, ' ')) >= 5) AS kept,
         CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
         (lower(t) LIKE '%lorem ipsum%' OR t LIKE '%{%') AS poisoned
  FROM planted)
SELECT doc_id,
       n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CASE WHEN poisoned THEN NULL
            ELSE array_to_string(kept, chr(10)) END AS cleaned,
       (NOT poisoned AND len(kept) >= 2) AS keep
FROM lined
"""

_pair("qt34_c4_line_rules", _QT34_SPARK, _QT34_DUCK)


# --- qt35: sketch-based distinct counting (HLL) --------------------------------
#
# COUNT(DISTINCT url) over 10^12 rows is a full shuffle of every distinct
# value; the production answer is a mergeable HyperLogLog sketch
# (approx_count_distinct in both engines) — constant memory per partition,
# one tiny merge. The two engines' sketch implementations differ, so raw
# estimates can NOT be value-hash-compared; instead each engine asserts
# its own estimate against its own exact count within the configured
# error bound — the oracle-able contract a sketch actually makes. Exact
# counts (hash-comparable) ride along per source group.

_QT35_SPARK = """
WITH words AS (SELECT source, explode(split(text, ' ')) AS w FROM documents)
SELECT source,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_exact,
       (abs(approx_count_distinct(w, 0.02) - COUNT(DISTINCT w))
          <= CAST(0.05 * COUNT(DISTINCT w) AS BIGINT)) AS sketch_within_5pct
FROM words GROUP BY source
"""

_QT35_DUCK = """
WITH words AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
SELECT source,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_exact,
       (abs(approx_count_distinct(w) - COUNT(DISTINCT w))
          <= CAST(0.05 * COUNT(DISTINCT w) AS BIGINT)) AS sketch_within_5pct
FROM words GROUP BY source
"""

_pair("qt35_sketch_distinct", _QT35_SPARK, _QT35_DUCK)

# --- qt36: BM25 keyword ranking (map-only TF, one tiny stats row) -------------
#
# Retrieval scoring over the corpus for a FIXED query term set — the shape
# a training-data pipeline uses to mine topical subsets ("find the docs
# about X") and the inverse of qt17's per-doc keyword extraction. The
# dataflow is the one that survives 10^12 docs: per-term TF is computed
# IN-ROW (size(filter(tokens))), so the corpus is never exploded to token
# rows; document frequencies and avgdl reduce to ONE tiny stats row
# (broadcast back via CROSS JOIN); the scan count is 2 (stats + scoring)
# and the only wide op is the final top-k. Contrast qt17, which pays a
# (doc, term) shuffle because its term set is open.
#
# Determinism: BM25's idf is classically ln((N-df+0.5)/(df+0.5)); ln() is
# only 1-ulp accurate and differs between java.lang.Math and libm, so a
# near-tie could flip the rank cut between engines (same reasoning as
# qt17). We keep the RAW rational idf — every factor below is +,-,*,/ on
# exact small integers-in-double, each correctly rounded by IEEE 754, so
# both engines produce bit-identical scores. The tf-saturation term is
# standard BM25 with k1=1.2, b=0.75.

_BM25_TERMS = ("spark", "join", "vector")

_BM25_BODY = """
WITH base AS (
  SELECT doc_id,
         CAST({DL} AS DOUBLE) AS dl,
         CAST({TF0} AS DOUBLE) AS tf0,
         CAST({TF1} AS DOUBLE) AS tf1,
         CAST({TF2} AS DOUBLE) AS tf2
  FROM documents
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(dl) / COUNT(*) AS avgdl,
         CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
         CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
         CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
  FROM base
),
scored AS (
  SELECT b.doc_id,
           (s.n - s.df0 + 0.5) / (s.df0 + 0.5)
         * (b.tf0 * CAST(2.2 AS DOUBLE))
         / (b.tf0 + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * b.dl / s.avgdl))
       + (s.n - s.df1 + 0.5) / (s.df1 + 0.5)
         * (b.tf1 * CAST(2.2 AS DOUBLE))
         / (b.tf1 + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * b.dl / s.avgdl))
       + (s.n - s.df2 + 0.5) / (s.df2 + 0.5)
         * (b.tf2 * CAST(2.2 AS DOUBLE))
         / (b.tf2 + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * b.dl / s.avgdl))
         AS score
  FROM base b CROSS JOIN stats s
)
SELECT doc_id, ROUND(score, 4) AS bm25
FROM scored
ORDER BY score DESC, doc_id
LIMIT 20
"""


def _bm25_sql(dialect: str) -> str:
    if dialect == "spark":
        dl = "size(split(text, ' '))"
        tf = "size(filter(split(text, ' '), x -> x = '{t}'))"
    else:
        dl = "len(string_split(text, ' '))"
        tf = "len(list_filter(string_split(text, ' '), x -> x = '{t}'))"
    sql = _BM25_BODY.replace("{DL}", dl)
    for i, term in enumerate(_BM25_TERMS):
        sql = sql.replace("{TF%d}" % i, tf.replace("{t}", term))
    return sql


_pair("qt36_bm25_rank", _bm25_sql("spark"), _bm25_sql("duck"))

# --- qt37: inverted-index postings (bounded per-term output) -------------------
#
# The index-construction shape: term -> document frequency + the head of
# the sorted posting list. In-row array_distinct before the explode means
# the exchange carries one row per (doc, DISTINCT term) — the minimum for
# building postings — and the output per term is BOUNDED (df + first 32
# doc_ids) so result size is O(|vocab|) regardless of corpus size. At
# 10^12 docs a real index shards posting lists by term range and
# delta-encodes doc_ids within a shard; df + bounded head is the
# driver-visible contract of that layout.

_QT37_SPARK = """
WITH posts AS (
  SELECT tok, doc_id
  FROM (SELECT doc_id, explode(array_distinct(split(text, ' '))) AS tok
        FROM documents)
  WHERE tok <> ''
)
SELECT tok AS term,
       CAST(COUNT(*) AS BIGINT) AS df,
       slice(sort_array(collect_list(doc_id)), 1, 32) AS postings_head
FROM posts GROUP BY tok
"""

_QT37_DUCK = """
WITH posts AS (
  SELECT tok, doc_id
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents)
  WHERE tok <> ''
)
SELECT tok AS term,
       CAST(COUNT(*) AS BIGINT) AS df,
       (list_sort(list(doc_id)))[1:32] AS postings_head
FROM posts GROUP BY tok
"""

_pair("qt37_inverted_index", _QT37_SPARK, _QT37_DUCK)

# --- qt38: classifier evaluation — ROC-AUC by rank-sum -------------------------
#
# Shipping a quality filter (qt29) without measuring it is how corpora
# rot: this computes the classifier's ROC-AUC against a weak label
# (n_chars >= 300 — length is the classic weak supervision signal) using
# the Mann-Whitney PAIR identity
#     AUC = (#(pos > neg) + 0.5 * #(pos == neg)) / (n1 * n0),
# evaluated over the SCORE HISTOGRAM: group docs by score (one map-side
# combined aggregation), then a running negative-count over the ordered
# DISTINCT scores. The naive rank formulation windows over every doc row
# — Spark plans an unpartitioned window as a single-partition sort, a
# scale-killer at 10^12 docs; the histogram window runs over |distinct
# scores| rows, bounded by the score domain (the hashed-weight sum),
# not the corpus. Counts are exact integers, tie mass contributes exact
# halves, and the final divide is one correctly-rounded IEEE op — the
# AUC is bit-identical across engines with no rounding concession.

_QT38_BODY = """
WITH lab AS (
  SELECT s.doc_id, s.score,
         CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS y
  FROM ({CLS}) s JOIN documents d ON s.doc_id = d.doc_id
),
hist AS (
  SELECT score,
         CAST(SUM(y) AS DOUBLE) AS p,
         CAST(SUM(1 - y) AS DOUBLE) AS q
  FROM lab GROUP BY score
),
w AS (
  SELECT p, q,
         SUM(q) OVER (ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - q AS q_below
  FROM hist
),
agg AS (
  SELECT SUM(p) AS n1, SUM(q) AS n0,
         SUM(p * q_below + 0.5 * p * q) AS wins
  FROM w
)
SELECT CAST(n1 AS BIGINT) AS n_pos,
       CAST(n0 AS BIGINT) AS n_neg,
       wins / (n1 * n0) AS auc
FROM agg
"""

_pair(
    "qt38_classifier_auc",
    _QT38_BODY.replace("{CLS}", _QT29_SPARK),
    _QT38_BODY.replace("{CLS}", _QT29_DUCK),
)

# --- qt39: corpus mixture reweighting ------------------------------------------
#
# The "data mixing" stage every multi-source training corpus runs: given
# a per-stratum population (here: lang) and a TARGET share (uniform), the
# per-doc sampling weight is target_share / actual_share, and the planned
# per-stratum contribution to a fixed token budget follows. All values
# are ratios of exact integers — one small-key aggregation plus one
# broadcast scalar, deterministic across engines without rounding
# concessions (ROUND only for display). Pairs with qt15, which executes
# a plan like this via deterministic hash sampling.

_QT39_BODY = """
WITH strata AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS total,
               CAST(COUNT(*) AS DOUBLE) AS n_strata
        FROM strata)
SELECT s.lang, s.n_docs,
       ROUND(CAST(s.n_docs AS DOUBLE) / t.total, 6) AS actual_share,
       ROUND(1.0 / t.n_strata, 6) AS target_share,
       ROUND(t.total / (t.n_strata * CAST(s.n_docs AS DOUBLE)), 6) AS weight,
       CAST(FLOOR(10000 / t.n_strata) AS BIGINT) AS planned_docs
FROM strata s CROSS JOIN tot t
"""

_pair("qt39_mixture_weights", _QT39_BODY, _QT39_BODY)

# --- qt40: duplicated-window fraction (substring-level dedup signal) -----------
#
# The suffix-array substring dedup of Lee et al. 2022 ("Deduplicating
# Training Data...") removes exact substrings repeated across the corpus;
# the Spark-shaped approximation hashes every 20-token window (stride 1)
# and asks what fraction of a doc's windows occur elsewhere too. Dataflow:
# explode windows -> md5 -> global count per hash (map-side combined; the
# count table is itself hash-keyed and uniform, the property that lets
# this scale where key-skewed joins need salting) -> join back -> per-doc
# dup-window fraction as an exact integer ratio. qt25 is the
# paragraph-grain version; this is the finer n-gram grain that catches
# partially-copied documents.

_QT40_BODY = """
WITH words AS (SELECT doc_id, {SPLIT} AS w FROM documents),
wins AS (
  SELECT doc_id, md5({JOINFN}) AS h
  FROM (
    SELECT doc_id, w, {IDX} AS i
    FROM words{LATERAL} WHERE {SZ} >= 20
  )
),
freq AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n FROM wins GROUP BY h),
per_doc AS (
  SELECT w.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN f.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM wins w JOIN freq f ON w.h = f.h
  GROUP BY w.doc_id
)
SELECT doc_id, n_windows, n_dup,
       ROUND(CAST(n_dup AS DOUBLE) / n_windows, 6) AS dup_fraction
FROM per_doc
"""

_QT40_SPARK = (
    _QT40_BODY
    .replace("{SPLIT}", "split(text, ' ')")
    .replace("{SZ}", "size(w)")
    .replace("{IDX}", "explode(sequence(1, size(w) - 19))")
    .replace("{LATERAL}", "")
    .replace("{JOINFN}", "array_join(slice(w, i, 20), ' ')")
)

_QT40_DUCK = (
    _QT40_BODY
    .replace("{SPLIT}", "string_split(text, ' ')")
    .replace("{SZ}", "len(w)")
    .replace("{IDX}", "t.i")
    .replace("{LATERAL}", ", LATERAL unnest(range(1, len(w) - 18)) t(i)")
    .replace("{JOINFN}", "array_to_string(w[i:i+19], ' ')")
)

_pair("qt40_dup_window_fraction", _QT40_SPARK, _QT40_DUCK)


# --- qt42: dedup-cluster representatives (keep-best) ---------------------------
#
# The step after clustering that actually builds the training corpus:
# inside every near-dup cluster (qt14's min-label components over the
# MinHash-LSH edge set) keep exactly one representative — the longest
# document, doc_id as the deterministic tie-break — and count what the
# cluster drops. The rep choice is a ROW_NUMBER window PARTITIONED BY
# component: cluster sizes are bounded by near-dup density, never by
# corpus size, so the window shuffles once on the component key and
# sorts tiny groups — no global ordering anywhere. Reuses qt14's
# propagated labels (cached view), so the LSH + propagation work is paid
# once per session across both queries.

_QT42_FINAL = """
WITH sized AS (
  SELECT l.doc_id, l.comp, d.n_chars
  FROM qt14_labels l JOIN documents d ON l.doc_id = d.doc_id
),
ranked AS (
  SELECT doc_id, comp, n_chars,
         ROW_NUMBER() OVER (PARTITION BY comp
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM sized
)
SELECT comp AS component,
       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS rep_doc_id,
       CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS rep_n_chars,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
FROM ranked GROUP BY comp
"""


def _qt42(spark: SparkSession, sf: str) -> DataFrame:
    _qt14(spark, sf)  # materializes/caches the qt14_labels view
    return spark.sql(_QT42_FINAL)


QUERIES["qt42_cluster_representatives"] = _qt42
ORACLE["qt42_cluster_representatives"] = f"""
WITH RECURSIVE sigs AS ({_MINHASH_DUCK}),
edges AS ({_LSH_BODY.replace("{T}", "sigs")}),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM edges
),
reach(doc_id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.doc_id
),
comp AS (SELECT doc_id, MIN(r) AS comp FROM reach GROUP BY doc_id),
sized AS (
  SELECT c.doc_id, c.comp, d.n_chars
  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
),
ranked AS (
  SELECT doc_id, comp, n_chars,
         ROW_NUMBER() OVER (PARTITION BY comp
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM sized
)
SELECT comp AS component,
       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS rep_doc_id,
       CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS rep_n_chars,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
FROM ranked GROUP BY comp
"""

# --- qt43: count-min sketch heavy hitters ---------------------------------------
#
# Completes the mergeable-sketch triptych (qt35 = HLL distinct count,
# qr31 = quantile sketch): a d=2 x w=16 count-min sketch over the
# token stream, certified against the exact counts of the exact top-10
# tokens. Each CMS row j buckets a token by a disjoint 16-bit md5
# window mod 1024 (the qt05/qt08 hashing contract — identical hex in
# both engines, nibbles via instr string ops); row counts are one
# map-side-combined groupBy per row over (bucket) — 2 x w counters
# total, mergeable across partitions/days by simple addition, which is
# why CMS is the 10^12-row streaming-frequency structure. w=16 here —
# deliberately UNDERSIZED for the corpus's 31-token vocabulary so
# collisions actually occur and the error law is demonstrated, not
# vacuous (a production sketch sizes w ~ e/eps). The estimate
# is min_j cms[j][bucket_j(tok)], and the output pins the CMS's
# one-sided error law: est >= true ALWAYS (never_undercounts boolean
# the cross-engine hash certifies) with the observed overestimate
# reported per token (collision mass; shrinks as w grows).

def _cms_bucket(col: str, off: int) -> str:
    """(16-bit md5 window at 1-based hex offset `off`) % 16."""
    nibs = [
        f"(instr('0123456789abcdef', substr({col}, {off + i}, 1)) - 1)"
        for i in range(4)
    ]
    mults = (4096, 256, 16, 1)
    word = " + ".join(f"{n} * {m}" for n, m in zip(nibs, mults))
    return f"(({word}) % 16)"


_QT43_BODY = f"""
WITH toks AS (
  SELECT tok, md5(tok) AS h FROM ({{EXPLODE}}) t WHERE tok <> ''
),
hashed AS (
  SELECT tok, {_cms_bucket('h', 1)} AS b0, {_cms_bucket('h', 9)} AS b1
  FROM toks
),
cms0 AS (SELECT b0 AS bucket, COUNT(*) AS cnt FROM hashed GROUP BY b0),
cms1 AS (SELECT b1 AS bucket, COUNT(*) AS cnt FROM hashed GROUP BY b1),
exact AS (
  SELECT tok, COUNT(*) AS true_cnt,
         MIN(b0) AS b0, MIN(b1) AS b1
  FROM hashed GROUP BY tok
),
top10 AS (
  SELECT tok, true_cnt, b0, b1 FROM exact
  ORDER BY true_cnt DESC, tok LIMIT 10
),
est AS (
  SELECT t.tok, t.true_cnt,
         CASE WHEN c0.cnt < c1.cnt THEN c0.cnt ELSE c1.cnt END AS est_cnt
  FROM top10 t
  JOIN cms0 c0 ON c0.bucket = t.b0
  JOIN cms1 c1 ON c1.bucket = t.b1
)
SELECT tok, CAST(true_cnt AS BIGINT) AS true_cnt,
       CAST(est_cnt AS BIGINT) AS est_cnt,
       CAST(est_cnt - true_cnt AS BIGINT) AS overestimate,
       est_cnt >= true_cnt AS never_undercounts
FROM est ORDER BY true_cnt DESC, tok
"""

_QT43_SPARK = _QT43_BODY.replace(
    "{EXPLODE}",
    "SELECT explode(split(text, ' ')) AS tok FROM documents",
)
_QT43_DUCK = _QT43_BODY.replace(
    "{EXPLODE}",
    "SELECT unnest(string_split(text, ' ')) AS tok FROM documents",
)

_pair("qt43_countmin_heavyhitters", _QT43_SPARK, _QT43_DUCK)

# --- qt44: rendezvous-hash sharding + minimal-movement law -----------------------
#
# The shard-assignment op for a GROWING 10^12-doc corpus: rendezvous
# (highest-random-weight) hashing — shard(doc, S) = argmax over shards
# s of md5(doc_id || '|' || s) — has the property mod-hashing lacks:
# growing S -> S+1 moves EXACTLY the docs whose new weight on the added
# shard wins (expected 1/(S+1) of the corpus), and every moved doc
# lands ON the new shard — nothing reshuffles between old shards. This
# query computes assignments at S=16 and S=17 and CERTIFIES both halves
# of that law cross-engine: all_moves_to_new pins the destination,
# moved_frac reports the movement mass (vs the 1/17 expectation; mod-16
# -> mod-17 would move ~16/17 of everything). Weights are 16-bit md5
# windows (the qt05 hashing contract), ties broken by shard id; the
# explode is docs x 33 hashes — map-side, one argmax groupBy per S.

def _cms_bucket_word(h: str) -> str:
    """Full 16-bit weight from the first 4 hex nibbles of md5 expr `h`."""
    nibs = [
        f"(instr('0123456789abcdef', substr({h}, {1 + i}, 1)) - 1)"
        for i in range(4)
    ]
    mults = (4096, 256, 16, 1)
    return "(" + " + ".join(f"{n} * {m}" for n, m in zip(nibs, mults)) + ")"


_QT44_BODY = f"""
WITH shards AS ({{SEQ}}),
w AS (
  SELECT d.doc_id, s.s,
         {_cms_bucket_word("md5(CAST(d.doc_id AS STRING) || '|' || CAST(s.s AS STRING))")} AS wt
  FROM documents d CROSS JOIN shards s
),
a16 AS (
  SELECT doc_id, s AS shard16 FROM (
    SELECT doc_id, s,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY wt DESC, s) AS rn
    FROM w WHERE s < 16) t WHERE rn = 1
),
a17 AS (
  SELECT doc_id, s AS shard17 FROM (
    SELECT doc_id, s,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY wt DESC, s) AS rn
    FROM w) t WHERE rn = 1
),
j AS (
  SELECT a16.doc_id, shard16, shard17,
         CASE WHEN shard16 <> shard17 THEN 1 ELSE 0 END AS moved
  FROM a16 JOIN a17 ON a16.doc_id = a17.doc_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(moved) AS BIGINT) AS n_moved,
       ROUND(CAST(SUM(moved) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS moved_frac,
       ROUND(1.0 / 17.0, 6) AS expected_frac,
       SUM(CASE WHEN moved = 1 AND shard17 <> 16 THEN 1 ELSE 0 END) = 0
         AS all_moves_to_new
FROM j
"""

_QT44_SPARK = _QT44_BODY.replace(
    "{SEQ}", "SELECT explode(sequence(0, 16)) AS s"
)
_QT44_DUCK = _QT44_BODY.replace(
    "{SEQ}", "SELECT CAST(unnest(range(0, 17)) AS BIGINT) AS s"
)

_pair("qt44_rendezvous_sharding", _QT44_SPARK, _QT44_DUCK)

# --- qt45: train/val/test split + near-dup leakage audit --------------------------
#
# Split hygiene — the step between dedup and training: a DETERMINISTIC
# hash split (3 md5 nibbles of the doc key = 12 bits -> 98/1/1 by
# threshold; disjoint and stable by construction, no RNG, no shuffle —
# the only split rule that survives reruns and backfills at 10^12
# docs), then the audit every eval set needs: an eval doc that shares a
# MinHash-LSH band bucket (the qt06 2-band scheme) with ANY train doc
# is contamination — its near-duplicate was trained on, and eval loss
# on it is dishonest (the Lee et al. 2022 / GPT-3 dedup-eval concern).
# Per split: doc count + distinct leaked eval docs (band equi-joins
# propose, exactly the candidates-then-verify shape; train row audits
# as 0 by definition). Docs under 3 tokens carry no signature and sit
# outside the audit (same domain rule as qt05/qt06).

_QT45_SPLIT_NIBS = (
    "( (instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 256"
    " + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 2, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 3, 1)) - 1) )"
)

_QT45_BODY = f"""
WITH sigs AS ({{SIGS}}),
lab AS (
  SELECT doc_id, h0, h1, h2, h3,
         CASE WHEN {_QT45_SPLIT_NIBS} < 4015 THEN 'train'
              WHEN {_QT45_SPLIT_NIBS} < 4056 THEN 'val'
              ELSE 'test' END AS split
  FROM sigs
),
train AS (SELECT * FROM lab WHERE split = 'train'),
ev AS (SELECT * FROM lab WHERE split <> 'train'),
leaks AS (
  SELECT e.doc_id, e.split
  FROM ev e JOIN train t ON e.h0 = t.h0 AND e.h1 = t.h1
  UNION
  SELECT e.doc_id, e.split
  FROM ev e JOIN train t ON e.h2 = t.h2 AND e.h3 = t.h3
),
leak_counts AS (
  SELECT split, COUNT(DISTINCT doc_id) AS n_leaked
  FROM leaks GROUP BY split
)
SELECT l.split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(MAX(k.n_leaked), 0) AS BIGINT) AS n_leaked_docs
FROM lab l LEFT JOIN leak_counts k ON l.split = k.split
GROUP BY l.split ORDER BY l.split
"""

_pair(
    "qt45_split_leakage_audit",
    _QT45_BODY.replace("{SIGS}", _MINHASH_SPARK),
    _QT45_BODY.replace("{SIGS}", _MINHASH_DUCK),
)

# --- qt46: class-balanced deterministic downsample (data mixing) ----------------
#
# The corpus-curation downsample stage (CCNet/RefinedWeb/Dolma mixing):
# every language is cut to (approximately) the size of the SMALLEST
# class by a DETERMINISTIC 12-bit md5 threshold on the doc key — no
# RNG, no shuffle of the big side, stable across reruns and backfills
# (the qt45 split rule applied to sampling). Shape at 10^12 rows: the
# per-lang counts are ONE map-side-combined groupBy collapsing to a
# K-row dim; thresholds broadcast-join back; the keep decision is pure
# map-side. Expected kept ~ n_min per lang (hash uniformity), reported
# alongside the exact integer threshold so the contract is auditable.

_QT46_HASH12 = (
    "( (instr('0123456789abcdef', substr(md5(CAST(d.doc_id AS STRING)), 1, 1)) - 1) * 256"
    " + (instr('0123456789abcdef', substr(md5(CAST(d.doc_id AS STRING)), 2, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(md5(CAST(d.doc_id AS STRING)), 3, 1)) - 1) )"
)

_QT46_BODY = f"""
WITH stats AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang FROM documents GROUP BY lang
),
mn AS (SELECT MIN(n_lang) AS n_min FROM stats),
thr AS (
  SELECT s.lang, s.n_lang, ((4096 * m.n_min) {{IDIV}} s.n_lang) AS keep_bits
  FROM stats s CROSS JOIN mn m
),
dec AS (
  SELECT d.doc_id, d.lang, t.n_lang, t.keep_bits,
         CASE WHEN {_QT46_HASH12} < t.keep_bits THEN 1 ELSE 0 END AS kept
  FROM documents d JOIN thr t ON d.lang = t.lang
)
SELECT lang,
       CAST(MAX(n_lang) AS BIGINT) AS n_seen,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(MAX(keep_bits) AS BIGINT) AS keep_threshold
FROM dec GROUP BY lang ORDER BY lang
"""

_pair(
    "qt46_balanced_downsample",
    _QT46_BODY.replace("{IDIV}", "DIV"),
    _QT46_BODY.replace("{IDIV}", "//"),
)

# --- qt47: BPE pair-merge statistic (tokenizer induction) -----------------------
#
# The inner statistic of BPE vocabulary training (Sennrich et al. 2016):
# adjacent-symbol pair counts at iteration 0, weighted by word
# frequency. The scale-defining trick IS the reference algorithm's: the
# corpus collapses to a word-frequency dict first (one exchange
# carrying distinct words), and pair enumeration runs over the
# VOCABULARY (bounded), never the raw corpus — the in-row
# transform(sequence(...)) enumerates every adjacent position, so
# within-word multiplicity ("aaaa" -> "aa" x3) counts exactly like the
# real algorithm. Top-20 with (count desc, pair) tie-break is fully
# deterministic cross-engine.

_QT47_BODY = """
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM ({WORDS}) t
  WHERE {LEN}(w) >= 2
  GROUP BY w
),
pairs AS (
  SELECT {PAIRS} AS pair, freq FROM words
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 20
"""

_pair(
    "qt47_bpe_pair_merges",
    _QT47_BODY.replace(
        "{WORDS}", "SELECT explode(split(lower(text), ' ')) AS w FROM documents"
    )
    .replace("{LEN}", "length")
    .replace(
        "{PAIRS}",
        "explode(transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)))",
    ),
    _QT47_BODY.replace(
        "{WORDS}",
        "SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents",
    )
    .replace("{LEN}", "length")
    .replace(
        "{PAIRS}",
        "unnest(list_transform(generate_series(1, length(w) - 1),"
        " i -> substr(w, i, 2)))",
    ),
)

# --- qt48: deterministic epoch shuffle (the training dataloader order) ----------
#
# How a 10^12-doc corpus is actually "shuffled" per epoch: global
# shuffle = hash shard assignment + within-shard order by a seeded hash
# — no RNG state, reproducible from (doc_id, epoch) alone, and every
# window is PARTITIONED BY (epoch, shard) so no task ever sees more
# than one shard (the qr38/qt38 single-partition class stays dead). The
# full permutation per (epoch, shard) is pinned compactly by an exact
# integer fingerprint SUM(position * doc_id) — any transposition
# changes it — so the oracle certifies the entire order, not a sample.

_QT48_BODY = """
WITH ordered AS (
  SELECT doc_id,
         e.epoch AS epoch,
         {SHARD} AS shard,
         md5(CAST(doc_id AS STRING) || '#' || CAST(e.epoch AS STRING)) AS ok
  FROM documents CROSS JOIN ({EPOCHS}) e
),
pos AS (
  SELECT epoch, shard, doc_id,
         ROW_NUMBER() OVER (PARTITION BY epoch, shard
                            ORDER BY ok, doc_id) AS position
  FROM ordered
)
SELECT epoch, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(position * doc_id) AS BIGINT) AS order_fingerprint
FROM pos GROUP BY epoch, shard ORDER BY epoch, shard
"""

_QT48_SHARD = (
    "(instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1)"
)

_pair(
    "qt48_epoch_shuffle",
    _QT48_BODY.replace("{SHARD}", _QT48_SHARD).replace(
        "{EPOCHS}", "SELECT explode(array(0, 1)) AS epoch"
    ),
    _QT48_BODY.replace("{SHARD}", _QT48_SHARD).replace(
        "{EPOCHS}", "SELECT unnest([0, 1]) AS epoch"
    ),
)

# --- qt49: benchmark n-gram decontamination (eval-set overlap scrub) ------------
#
# The GPT-3-appendix / Lee et al. decontamination stage: flag training
# docs sharing an exact word n-gram with the eval benchmark. The
# benchmark here is self-derived (top-3 corpus 5-grams, count-desc +
# lexicographic tie-break) so the query is closed over the fixture
# tables; in production it is a provided dim — either way it is
# dimension-sized, so the scan side applies membership via a BROADCAST
# semi-join after an IN-ROW distinct (the exchange carries one row per
# (doc, distinct gram), the construction minimum — qt37's trick).

_QT49_BODY = """
WITH toks AS (
  SELECT doc_id, {TOKS} AS a FROM documents
),
grams AS (
  SELECT doc_id, gram
  FROM (SELECT doc_id, {DEDUP_GRAMS} AS gl FROM toks WHERE {LEN}(a) >= 5) t
       {UNNEST}
),
bench AS (
  SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs_gram
  FROM grams GROUP BY gram
  ORDER BY n_docs_gram DESC, gram LIMIT 3
),
contaminated AS (
  SELECT DISTINCT g.doc_id
  FROM grams g JOIN bench b ON g.gram = b.gram
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM contaminated)
SELECT b.gram, b.n_docs_gram, t.n_total AS n_docs_contaminated
FROM bench b CROSS JOIN total t
ORDER BY b.n_docs_gram DESC, b.gram
"""

_pair(
    "qt49_benchmark_decontamination",
    _QT49_BODY.replace("{TOKS}", "split(lower(text), ' ')")
    .replace(
        "{DEDUP_GRAMS}",
        "array_distinct(transform(sequence(1, size(a) - 4),"
        " i -> concat_ws(' ', slice(a, i, 5))))",
    )
    .replace("{LEN}", "size")
    .replace("{UNNEST}", "LATERAL VIEW explode(gl) g AS gram"),
    _QT49_BODY.replace("{TOKS}", "string_split(lower(text), ' ')")
    .replace(
        "{DEDUP_GRAMS}",
        "list_distinct(list_transform(generate_series(1, len(a) - 4),"
        " i -> array_to_string(list_slice(a, i, i + 4), ' ')))",
    )
    .replace("{LEN}", "len")
    .replace("{UNNEST}", ", LATERAL UNNEST(t.gl) AS u(gram)"),
)

# --- qt50: incremental dedup against an existing corpus --------------------------
#
# The PRODUCTION dedup dataflow: a new crawl batch is deduped against
# the standing corpus — never the corpus against itself again. The
# standing side contributes only its (incrementally maintained)
# signature store: exact tier = md5 anti-join (a new doc byte-equal to
# ANY existing doc drops), near tier = the qt06 2-band MinHash LSH
# join flagging survivors that near-duplicate an existing doc. At
# 10^12 standing rows the NEW batch is the small side — it broadcasts,
# and the standing signature table is only ever probed, never
# reshuffled; batch split here is deterministic (doc_id % 5 = 4 is the
# "new" batch) so the query closes over the fixture tables.

_QT50_BODY = """
WITH sigs AS ({SIGS}),
exact AS (
  SELECT doc_id, md5(text) AS xh, lang FROM documents
),
new_exact AS (SELECT * FROM exact WHERE doc_id % 5 = 4),
old_exact AS (SELECT * FROM exact WHERE doc_id % 5 <> 4),
exact_dropped AS (
  SELECT DISTINCT n.doc_id
  FROM new_exact n JOIN old_exact o ON n.xh = o.xh
),
survivors AS (
  SELECT n.doc_id, n.lang FROM new_exact n
  WHERE n.doc_id NOT IN (SELECT doc_id FROM exact_dropped)
),
new_sigs AS (
  SELECT s.* FROM sigs s JOIN survivors v ON s.doc_id = v.doc_id
),
old_sigs AS (SELECT * FROM sigs WHERE doc_id % 5 <> 4),
near_flagged AS (
  SELECT DISTINCT n.doc_id
  FROM new_sigs n JOIN old_sigs o ON n.h0 = o.h0 AND n.h1 = o.h1
  UNION
  SELECT DISTINCT n.doc_id
  FROM new_sigs n JOIN old_sigs o ON n.h2 = o.h2 AND n.h3 = o.h3
)
SELECT v.lang,
       CAST(COUNT(*) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_flagged,
       CAST((SELECT COUNT(*) FROM exact_dropped) AS BIGINT) AS n_exact_dropped
FROM survivors v LEFT JOIN near_flagged f ON v.doc_id = f.doc_id
GROUP BY v.lang ORDER BY v.lang
"""

_pair(
    "qt50_incremental_dedup",
    _QT50_BODY.replace("{SIGS}", _MINHASH_SPARK),
    _QT50_BODY.replace("{SIGS}", _MINHASH_DUCK),
)

# --- qt51: bigram novelty vs the standing corpus (OOD / perplexity proxy) -------
#
# The CCNet perplexity-filter stage without its cross-engine float trap:
# a true LM score sums ln-probabilities (libm ln is 1-ulp
# engine-dependent; summation order another), so the novelty signal
# here is EXACT integers — per new doc, the fraction of its word
# bigrams absent from the standing corpus's bigram vocabulary, as
# (n_unseen, n_bigrams) integer pairs plus a per-lang aggregate. High
# unseen fraction = out-of-domain/garbled (what the perplexity filter
# actually flags). Shape at 10^12 rows: the standing vocabulary is a
# DISTINCT-bigram table probed by a LEFT join (build once,
# incrementally maintained like qt50's signature store); the doc side
# explodes AFTER in-row distinct so the exchange carries one row per
# (doc, distinct bigram). Same deterministic doc_id%5 batch split as
# qt50.

_QT51_BODY = """
WITH toks AS (
  SELECT doc_id, lang, {TOKS} AS a FROM documents
),
bi AS (
  SELECT doc_id, lang, gram
  FROM (SELECT doc_id, lang, {BIGRAMS} AS gl FROM toks WHERE {LEN}(a) >= 2) t
       {UNNEST}
),
vocab AS (
  SELECT DISTINCT gram FROM bi WHERE doc_id % 5 <> 4
),
probe AS (
  SELECT b.doc_id, b.lang,
         CASE WHEN v.gram IS NULL THEN 1 ELSE 0 END AS unseen
  FROM bi b LEFT JOIN vocab v ON b.gram = v.gram
  WHERE b.doc_id % 5 = 4
)
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(unseen) AS BIGINT) AS n_unseen,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams
FROM probe GROUP BY lang ORDER BY lang
"""

_pair(
    "qt51_bigram_novelty",
    _QT51_BODY.replace("{TOKS}", "split(lower(text), ' ')")
    .replace(
        "{BIGRAMS}",
        "array_distinct(transform(sequence(1, size(a) - 1),"
        " i -> concat_ws(' ', slice(a, i, 2))))",
    )
    .replace("{LEN}", "size")
    .replace("{UNNEST}", "LATERAL VIEW explode(gl) g AS gram"),
    _QT51_BODY.replace("{TOKS}", "string_split(lower(text), ' ')")
    .replace(
        "{BIGRAMS}",
        "list_distinct(list_transform(generate_series(1, len(a) - 1),"
        " i -> array_to_string(list_slice(a, i, i + 1), ' ')))",
    )
    .replace("{LEN}", "len")
    .replace("{UNNEST}", ", LATERAL UNNEST(t.gl) AS u(gram)"),
)

# --- qt53: ExactSubstr duplicated-span removal (Lee et al. 2021) -----------
#
# The suffix-array "deduplicate exact substrings, not whole documents"
# op from "Deduplicating Training Data Makes Language Models Better"
# (Lee et al., public), re-expressed as Spark dataflow: every K-token
# window is hashed (md5 — portable to the DuckDB oracle), a window is
# DUPLICATED when its hash occurs in >= 2 distinct documents, and a
# doc's duplicated window positions are merged into maximal token
# spans with the classic gaps-and-islands window (running MAX(end)
# over preceding rows -> new-island flag -> running SUM -> island id).
# Output is integer-exact per doc: token count, merged duplicated-span
# count, and tokens removed if those spans were cut.
#
# Shape at 10^12 docs: position explode is one row per token
# (same scale as qt51's bigram explode); the duplicated-gram
# vocabulary is a groupBy on uniform 16-byte md5 keys (COUNT DISTINCT
# doc_id >= 2) probed by an equi-join — at real scale a bloom filter
# on the gram hash pre-drops the ~unique majority before the join;
# the interval merge is a per-doc window (bounded partitions). The
# paper's suffix array is a single-node structure; this is the
# shuffle-native equivalent for fixed K (the paper's own dedup uses
# 50-token minimum matches — K is that floor).

_QT53_K = 8

_QT53_BODY = """
WITH toks AS (
  SELECT doc_id, {TOKS} AS a FROM documents
),
pos AS (
  SELECT doc_id, {LEN}(a) AS n, i, md5({GRAM}) AS gh
  FROM (SELECT doc_id, a, {SEQ} AS idxs FROM toks WHERE {LEN}(a) >= {K}) t
  {UNNEST}
),
dupg AS (
  SELECT gh FROM pos GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT p.doc_id, p.n, p.i AS s, p.i + {K} - 1 AS e
  FROM pos p JOIN dupg d ON p.gh = d.gh
),
flagged AS (
  SELECT doc_id, n, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS new_island
  FROM hits
),
islands AS (
  SELECT doc_id, n, s, e,
         SUM(new_island) OVER (
           PARTITION BY doc_id ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM flagged
),
merged AS (
  SELECT doc_id, MAX(n) AS n, isl, MIN(s) AS ms, MAX(e) AS me
  FROM islands GROUP BY doc_id, isl
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       CAST(SUM(me - ms + 1) AS BIGINT) AS removed_tokens
FROM merged GROUP BY doc_id ORDER BY doc_id
"""


def _qt53_sql(dialect: str) -> str:
    k = str(_QT53_K)
    body = _QT53_BODY.replace("{K}", k)
    if dialect == "spark":
        return (
            body.replace("{TOKS}", "split(lower(text), ' ')")
            .replace("{LEN}", "size")
            .replace("{SEQ}", f"sequence(1, size(a) - {k} + 1)")
            .replace("{GRAM}", f"concat_ws(' ', slice(a, i, {k}))")
            .replace("{UNNEST}", "LATERAL VIEW explode(idxs) ix AS i")
        )
    return (
        body.replace("{TOKS}", "string_split(lower(text), ' ')")
        .replace("{LEN}", "len")
        .replace("{SEQ}", f"generate_series(1, len(a) - {k} + 1)")
        .replace(
            "{GRAM}", f"array_to_string(list_slice(a, i, i + {k} - 1), ' ')"
        )
        .replace("{UNNEST}", ", LATERAL UNNEST(t.idxs) AS u(i)")
    )


_pair("qt53_exactsubstr_spans", _qt53_sql("spark"), _qt53_sql("duck"))

# --- qt54: ExactSubstr span REMOVAL — the transform twin of qt53 ----------
#
# qt53 reports which token spans are duplicated; this op actually CUTS
# them and emits the cleaned token stream, certified by md5 over the
# re-joined text (the strongest cross-engine check available: one token
# kept or dropped wrongly flips the digest). Docs with no duplicated
# span keep their full stream (digest = md5 of the space-rejoined
# original); docs whose ENTIRE stream is duplicated drop out of the
# output — exactly the cut the paper's pipeline makes.
#
# Shape at 10^12 docs: positions explode once (one row per token), the
# span set per doc is tiny after qt53's merge, and the kept-token test
# is an equi-join on doc_id followed by a per-row interval check — at
# real scale the merged spans broadcast (their count is bounded by
# dup volume, not corpus size). Ordered re-assembly is
# array_sort(collect_list(struct(pos, tok))) on the Spark side and
# string_agg(... ORDER BY pos) in DuckDB — both deterministic; no
# collect_list ordering assumption is made.

_QT54_BODY = """
WITH toks AS (
  SELECT doc_id, {TOKS} AS a FROM documents
),
pos AS (
  SELECT doc_id, i, md5({GRAM}) AS gh
  FROM (SELECT doc_id, a, {SEQ} AS idxs FROM toks WHERE {LEN}(a) >= {K}) t
  {UNNEST}
),
dupg AS (
  SELECT gh FROM pos GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT p.doc_id, p.i AS s, p.i + {K} - 1 AS e
  FROM pos p JOIN dupg d ON p.gh = d.gh
),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS new_island
  FROM hits
),
islands AS (
  SELECT doc_id, s, e,
         SUM(new_island) OVER (
           PARTITION BY doc_id ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM flagged
),
merged AS (
  SELECT doc_id, isl, MIN(s) AS ms, MAX(e) AS me
  FROM islands GROUP BY doc_id, isl
),
tokpos AS (
  SELECT doc_id, j, tok
  FROM (SELECT doc_id, a, {JSEQ} AS jdxs FROM toks) t
  {JUNNEST}
),
kept AS (
  SELECT tp.doc_id, tp.j, tp.tok
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM merged m
    WHERE m.doc_id = tp.doc_id AND tp.j BETWEEN m.ms AND m.me)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS kept_tokens,
       md5({REJOIN}) AS cleaned_md5
FROM kept GROUP BY doc_id ORDER BY doc_id
"""


def _qt54_sql(dialect: str) -> str:
    k = str(_QT53_K)
    body = _QT54_BODY.replace("{K}", k)
    if dialect == "spark":
        return (
            body.replace("{TOKS}", "split(lower(text), ' ')")
            .replace("{LEN}", "size")
            .replace("{SEQ}", f"sequence(1, size(a) - {k} + 1)")
            .replace("{GRAM}", f"concat_ws(' ', slice(a, i, {k}))")
            .replace("{UNNEST}", "LATERAL VIEW explode(idxs) ix AS i")
            .replace("{JSEQ}", "sequence(1, size(a))")
            .replace(
                "{JUNNEST}",
                "LATERAL VIEW posexplode(a) tx AS p, tok"
                "\n  LATERAL VIEW explode(array(p + 1)) jx AS j",
            )
            .replace(
                "{REJOIN}",
                "array_join(transform(array_sort(collect_list("
                "struct(j, tok))), s -> s.tok), ' ')",
            )
        )
    return (
        body.replace("{TOKS}", "string_split(lower(text), ' ')")
        .replace("{LEN}", "len")
        .replace("{SEQ}", f"generate_series(1, len(a) - {k} + 1)")
        .replace(
            "{GRAM}", f"array_to_string(list_slice(a, i, i + {k} - 1), ' ')"
        )
        .replace("{UNNEST}", ", LATERAL UNNEST(t.idxs) AS u(i)")
        .replace("{JSEQ}", "generate_series(1, len(a))")
        .replace(
            "{JUNNEST}",
            ", LATERAL UNNEST(t.jdxs) AS u(j), LATERAL (SELECT t.a[u.j] AS tok) s",
        )
        .replace("{REJOIN}", "string_agg(tok, ' ' ORDER BY j)")
    )


_pair("qt54_exactsubstr_clean", _qt54_sql("spark"), _qt54_sql("duck"))


# --- qt55: DSIR-style hashed-feature importance weights -------------------------
#
# Data Selection via Importance Resampling (Xie et al., 2023): score every
# raw document by how target-like its hashed bag-of-features distribution
# is, weight = sum over features of log(p_target(b) / p_raw(b)), then
# resample by weight. The dataflow here is exactly DSIR's (hash words into
# B buckets; estimate the target and raw bucket distributions; per-doc sum
# of per-bucket scores) with the log-ratio replaced by the integer-exact
# cross product ct * TOT_raw - cr * TOT_target, whose SIGN per bucket is
# sign(p_target - p_raw) — the same move qt24 makes (CCNet dataflow, no
# LM) so the DuckDB oracle is hash-exact with zero float drift. The target
# slice is lang = 'en' (any predicate works); B = 256 buckets from the
# first two hex nibbles of md5(word), the qt44 nibble contract.
#
# 100 TB: tgt/raw are <= 256-row aggregates -> broadcast both; the only
# corpus-sized shuffle is the per-doc partial-aggregated GROUP BY doc_id.
# At 10^12 docs the raw counts are first scaled to per-mille fixed point
# so the BIGINT cross products cannot overflow; at benchmark SFs the raw
# products stay < 2^60 and are kept exact.

_QT55_BUCKET = (
    "((instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(md5(w), 2, 1)) - 1))"
)

_QT55_BODY = f"""
WITH words AS ({{WORDS}}),
feat AS (SELECT doc_id, lang, {_QT55_BUCKET} AS b FROM words),
tgt AS (SELECT b, COUNT(*) AS ct FROM feat WHERE lang = 'en' GROUP BY b),
raw AS (SELECT b, COUNT(*) AS cr FROM feat GROUP BY b),
tot AS (SELECT (SELECT SUM(ct) FROM tgt) AS tt, (SELECT SUM(cr) FROM raw) AS tr)
SELECT f.doc_id,
       CAST(SUM(COALESCE(t.ct, 0) * tot.tr - r.cr * tot.tt) AS BIGINT)
         AS dsir_score,
       CAST(COUNT(*) AS BIGINT) AS n_feat,
       CAST(SUM(CASE WHEN COALESCE(t.ct, 0) * tot.tr > r.cr * tot.tt
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_target_leaning
FROM feat f
LEFT JOIN tgt t USING (b)
JOIN raw r USING (b)
CROSS JOIN tot
GROUP BY f.doc_id
"""

_QT55_SPARK = _QT55_BODY.replace(
    "{WORDS}",
    "SELECT doc_id, lang,"
    " explode(filter(split(text, ' '), t -> t <> '')) AS w FROM documents",
)
_QT55_DUCK = _QT55_BODY.replace(
    "{WORDS}",
    "SELECT doc_id, lang,"
    " unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w"
    " FROM documents",
)

_pair("qt55_dsir_importance", _QT55_SPARK, _QT55_DUCK)


# --- qt56: quantized-log bigram LM perplexity buckets (CCNet head/middle/tail) --
#
# CCNet (Wenzek et al., 2020) buckets documents into head/middle/tail by
# the perplexity of a small LM trained on a clean slice — the actual
# filter stage qt51's novelty fraction only proxies. The float trap is
# the same (libm ln, summation order), so the LM score here is QUANTIZED
# to integer exactness: qlp(w2|w1) = floor(log2 c(w1 w2)) - floor(log2
# c(w1)) for bigrams seen in the training slice (both engines compute
# floor(log2 n) as length(bin(n)) - 1, pure string/bit arithmetic), and
# an unseen bigram pays the backoff penalty -(floor(log2(c(w1)+1)) + 1)
# ~ log2 1/(2*(c(w1)+1)) (an unseen-prefix bigram thus pays -1). The
# training slice is doc_id % 5 <> 4 and only held-out docs are scored
# (same train/score split as qt51, no self-scoring). Buckets: per-lang
# NTILE(3) over the per-token mean quantized log-prob, computed as the
# all-positive integer division ((qlp_sum + 64*n)*1024) DIV n (qlp is
# bounded below by -64, so the shift makes trunc == floor in both
# engines), DESC so bucket 1 = head (least perplexed), ties by doc_id.
#
# 100 TB: the bigram/prefix count tables are uniform-key groupBys with
# map-side partial aggregation (md5-free — raw token keys are already
# near-uniform at corpus scale); the probe is two equi-joins of the
# scored slice against those tables; the only sort is the per-lang
# NTILE range exchange, which at 10^12 rows would swap to the qr38
# two-phase partition-histogram rank — same bucket ids, no single
# partition. Counts stay < 2^40 at any realistic corpus, and the
# ordering key is bounded by 130048 * n_bigrams — no BIGINT overflow.

_QT56_BODY = """
WITH toks AS (
  SELECT doc_id, lang, {TOKS} AS a FROM documents
),
bi AS (
  SELECT doc_id, lang, gram
  FROM (SELECT doc_id, lang, {BIGRAMS} AS gl FROM toks WHERE {LEN}(a) >= 2) t
       {UNNEST}
),
train AS (SELECT gram FROM bi WHERE doc_id % 5 <> 4),
big_counts AS (SELECT gram, COUNT(*) AS c FROM train GROUP BY gram),
pre_counts AS (
  SELECT split_part(gram, ' ', 1) AS w1, COUNT(*) AS c
  FROM train GROUP BY split_part(gram, ' ', 1)
),
probe AS (
  SELECT b.doc_id, b.lang,
         CASE WHEN g.c IS NOT NULL
              THEN (length(bin(g.c)) - 1) - (length(bin(u.c)) - 1)
              ELSE -((length(bin(COALESCE(u.c, 0) + 1)) - 1) + 1)
         END AS qlp
  FROM (SELECT doc_id, lang, gram, split_part(gram, ' ', 1) AS w1
        FROM bi WHERE doc_id % 5 = 4) b
  LEFT JOIN big_counts g ON b.gram = g.gram
  LEFT JOIN pre_counts u ON b.w1 = u.w1
),
scored AS (
  SELECT doc_id, lang,
         CAST(SUM(qlp) AS BIGINT) AS qlp_sum,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams
  FROM probe GROUP BY doc_id, lang
)
SELECT doc_id, lang, qlp_sum, n_bigrams,
       CAST(NTILE(3) OVER (
         PARTITION BY lang
         ORDER BY ((qlp_sum + 64 * n_bigrams) * 1024) {IDIV} n_bigrams DESC,
                  doc_id
       ) AS BIGINT) AS ppl_bucket
FROM scored
"""

_pair(
    "qt56_lm_perplexity_buckets",
    _QT56_BODY.replace("{TOKS}", "split(lower(text), ' ')")
    .replace(
        "{BIGRAMS}",
        "transform(sequence(1, size(a) - 1),"
        " i -> concat_ws(' ', slice(a, i, 2)))",
    )
    .replace("{LEN}", "size")
    .replace("{UNNEST}", "LATERAL VIEW explode(gl) g AS gram")
    .replace("{IDIV}", "DIV"),
    _QT56_BODY.replace("{TOKS}", "string_split(lower(text), ' ')")
    .replace(
        "{BIGRAMS}",
        "list_transform(generate_series(1, len(a) - 1),"
        " i -> array_to_string(list_slice(a, i, i + 1), ' '))",
    )
    .replace("{LEN}", "len")
    .replace("{UNNEST}", ", LATERAL UNNEST(t.gl) AS u(gram)")
    .replace("{IDIV}", "//"),
)


# --- qt57: UniMax language-balanced sampling allocation (waterfilling) ----------
#
# UniMax (Chung et al., 2023): allocate a total training-token budget B
# across languages so every language gets an equal share EXCEPT those
# whose corpus would be repeated past the epoch cap E — they contribute
# everything they have (cap_l = c_l * E) and the surplus waterfalls to
# the rest. Closed-form integer waterfill over the per-language token
# counts: sort langs by cap ascending; a lang is CAPPED iff filling it
# and every larger lang at its own cap level still fits the remaining
# budget (cap * langs_at_or_above + prefix_below <= B — true on a
# prefix of the sort); uncapped langs split the leftover evenly with
# the integer remainder going to the smallest-cap uncapped langs
# (deterministic, order-free). The scored slice keeps all English but
# 1-in-20 docs of every other language — the real-web imbalance the
# benchmark tables flatten away — so with B = half the slice's tokens
# and E = 3 the tail languages actually hit their epoch cap
# (epochs_milli = 3000) while English waterfills the surplus: both
# regimes live at every SF. epochs_milli = alloc * 1000 // c is the
# per-lang repeat factor the sampler actually applies.
#
# 100 TB: the per-lang aggregate is a partial-agg groupBy down to
# O(#languages) rows; every window after that runs on a table of a few
# hundred rows (one exchange of kilobytes). Nothing corpus-sized ever
# sorts.

_QT57_BODY = """
WITH toks AS (
  SELECT lang, {NTOK} AS nt FROM documents
  WHERE lang = 'en' OR doc_id % 20 = 0
),
langs AS (
  SELECT lang, CAST(SUM(nt) AS BIGINT) AS c FROM toks GROUP BY lang
),
budget AS (
  SELECT CAST(SUM(c) / 2 AS BIGINT) AS b FROM langs
),
caps AS (
  SELECT lang, c, c * 3 AS cap FROM langs
),
ordered AS (
  SELECT lang, c, cap,
         ROW_NUMBER() OVER (ORDER BY cap, lang) AS rn,
         SUM(cap) OVER (ORDER BY cap, lang
                        ROWS UNBOUNDED PRECEDING) AS pre,
         COUNT(*) OVER () AS n
  FROM caps
),
flagged AS (
  SELECT o.*, b.b,
         CASE WHEN o.cap * (o.n - o.rn + 1) + (o.pre - o.cap) <= b.b
              THEN 1 ELSE 0 END AS capped
  FROM ordered o CROSS JOIN budget b
),
kval AS (
  SELECT COALESCE(MAX(CASE WHEN capped = 1 THEN rn END), 0) AS k,
         COALESCE(MAX(CASE WHEN capped = 1 THEN pre END), 0) AS pre_k
  FROM flagged
)
SELECT f.lang, f.c AS n_tokens, f.cap,
       CAST(CASE WHEN f.capped = 1 THEN f.cap
            ELSE (f.b - kv.pre_k) / (f.n - kv.k)
                 + CASE WHEN f.rn - kv.k
                             <= (f.b - kv.pre_k) % (f.n - kv.k)
                        THEN 1 ELSE 0 END
       END AS BIGINT) AS alloc,
       CAST(CASE WHEN f.capped = 1 THEN f.cap
            ELSE (f.b - kv.pre_k) / (f.n - kv.k)
                 + CASE WHEN f.rn - kv.k
                             <= (f.b - kv.pre_k) % (f.n - kv.k)
                        THEN 1 ELSE 0 END
       END * 1000 / f.c AS BIGINT) AS epochs_milli,
       CAST(f.capped AS INTEGER) AS capped
FROM flagged f CROSS JOIN kval kv
"""

_pair(
    "qt57_unimax_allocation",
    _QT57_BODY.replace(
        "{NTOK}", "size(filter(split(text, ' '), t -> t <> ''))"
    ).replace(" / ", " DIV "),
    _QT57_BODY.replace(
        "{NTOK}", "len(list_filter(string_split(text, ' '), t -> t <> ''))"
    ).replace(" / ", " // "),
)


# --- qt58: pagination stitching (suffix/prefix overlap + digest-certified merge) -
#
# Crawled articles arrive as PAGES: "?page=2" continuations that repeat
# the previous page's trailing lines as context (or share a boilerplate
# bridge). Training wants the stitched article once, not N overlapping
# fragments double-counting the seam. The op: split every document into
# two pages overlapping by K=6 tokens (the fixture mimicking real
# pagination — generic detector, synthetic split), hash each page's
# K-token head and tail, equi-join tail-hash = head-hash for candidate
# continuation pairs, stitch candidate pairs by dropping the repeated
# K tokens, and CERTIFY each stitch by md5 parity against the original
# document's token stream — one token duplicated or lost at the seam
# flips the digest (the qt54 certification move). Hash-collision
# candidates that fail parity surface as stitch_ok = 0 rows — the
# verify-after-candidate shape every near-dup op here uses.
#
# 100 TB: heads/tails are map-side projections (two rows per doc); the
# candidate join is an equi-join on uniform 16-byte md5 keys; the
# certification join is doc_id equi-join. No window, no skew, nothing
# all-pairs.

_QT58_BODY = """
WITH toks AS (
  SELECT doc_id, {TOKS} AS a FROM documents
),
eligible AS (
  SELECT doc_id, a, {LEN}(a) AS n, {LEN}(a) {IDIV} 2 AS h
  FROM toks WHERE {LEN}(a) >= 14
),
pages AS (
  SELECT doc_id * 2 AS page_id, doc_id, {SLICE_A} AS p FROM eligible
  UNION ALL
  SELECT doc_id * 2 + 1 AS page_id, doc_id, {SLICE_B} AS p FROM eligible
),
tails AS (
  SELECT page_id, doc_id, p,
         md5({JOIN_TAIL}) AS gh
  FROM pages
),
heads AS (
  SELECT page_id, doc_id, p,
         md5({JOIN_HEAD}) AS gh
  FROM pages
),
cand AS (
  SELECT t.page_id AS prev_page, hd.page_id AS next_page,
         t.doc_id AS doc_id,
         {STITCH} AS stitched
  FROM tails t JOIN heads hd ON t.gh = hd.gh
  WHERE t.page_id <> hd.page_id
)
SELECT c.prev_page, c.next_page, c.doc_id,
       CAST(CASE WHEN md5({JOIN_STITCHED}) = md5({JOIN_ORIG})
                 THEN 1 ELSE 0 END AS INTEGER) AS stitch_ok
FROM cand c JOIN eligible e ON c.doc_id = e.doc_id
"""

_pair(
    "qt58_pagination_stitch",
    _QT58_BODY.replace("{TOKS}", "filter(split(text, ' '), t -> t <> '')")
    .replace("{LEN}", "size")
    .replace("{IDIV}", "DIV")
    .replace("{SLICE_A}", "slice(a, 1, h + 6)")
    .replace("{SLICE_B}", "slice(a, h + 1, n - h)")
    .replace("{JOIN_TAIL}", "concat_ws(' ', slice(p, size(p) - 5, 6))")
    .replace("{JOIN_HEAD}", "concat_ws(' ', slice(p, 1, 6))")
    .replace("{STITCH}", "concat(t.p, slice(hd.p, 7, size(hd.p) - 6))")
    .replace("{JOIN_STITCHED}", "concat_ws(' ', c.stitched)")
    .replace("{JOIN_ORIG}", "concat_ws(' ', e.a)"),
    _QT58_BODY.replace(
        "{TOKS}", "list_filter(string_split(text, ' '), t -> t <> '')"
    )
    .replace("{LEN}", "len")
    .replace("{IDIV}", "//")
    .replace("{SLICE_A}", "list_slice(a, 1, h + 6)")
    .replace("{SLICE_B}", "list_slice(a, h + 1, n)")
    .replace("{JOIN_TAIL}", "array_to_string(list_slice(p, len(p) - 5, len(p)), ' ')")
    .replace("{JOIN_HEAD}", "array_to_string(list_slice(p, 1, 6), ' ')")
    .replace("{STITCH}", "list_concat(t.p, list_slice(hd.p, 7, len(hd.p)))")
    .replace("{JOIN_STITCHED}", "array_to_string(c.stitched, ' ')")
    .replace("{JOIN_ORIG}", "array_to_string(e.a, ' ')"),
)


# --- qt59: classifier calibration (reliability bins) ----------------------------
#
# qt38 measures the quality classifier's RANKING (AUC); this measures
# its CALIBRATION — within each score bucket, what fraction of docs is
# actually positive? Thresholding an uncalibrated filter silently moves
# the kept-volume target. Buckets are FIXED-WIDTH integer score bands
# (score DIV 100, pure map-side arithmetic) rather than NTILE quantiles:
# an unpartitioned NTILE window is a single-partition sort at 10^12 docs
# (the qt38 lesson), while fixed bands group map-side and the output is
# bounded by the score domain. Counts exact; the per-bucket positive
# rate is one correctly-rounded IEEE divide.

_QT59_BODY = """
WITH lab AS (
  SELECT s.doc_id, s.score,
         CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS y
  FROM ({CLS}) s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT CAST(FLOOR(score / 100.0) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(score) AS BIGINT) AS sum_score,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate
FROM lab
GROUP BY CAST(FLOOR(score / 100.0) AS BIGINT)
"""

_pair(
    "qt59_calibration_bins",
    _QT59_BODY.replace("{CLS}", _QT29_SPARK),
    _QT59_BODY.replace("{CLS}", _QT29_DUCK),
)


# --- qt60: inter-signal agreement (Cohen's kappa, integer cross-product form) ---
#
# Two cheap quality signals — the hashed linear classifier's keep flag
# (qt29, score >= 0) and the length heuristic (n_chars >= 300) — agree
# by chance too; Cohen's kappa corrects for that. The float-free
# identity: with agreement count A = n11 + n00 and chance mass
# E = a1*b1 + a0*b0 (marginal products),
#     kappa = (n*A - E) / (n*n - E)
# — numerator and denominator EXACT BIGINTs (reported), the final kappa
# one correctly-rounded IEEE divide (the qt38 discipline). One
# map-side-combined aggregation over the joined signals; every input to
# the kappa is a scalar.

_QT60_BODY = """
WITH lab AS (
  SELECT CASE WHEN s.score >= 0 THEN 1 ELSE 0 END AS a,
         CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS b
  FROM ({CLS}) s JOIN documents d ON s.doc_id = d.doc_id
),
cm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a * b) AS BIGINT) AS n11,
         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00,
         CAST(SUM(a) AS BIGINT) AS a1,
         CAST(SUM(b) AS BIGINT) AS b1
  FROM lab
)
SELECT n, n11, n00,
       n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1)) AS kappa_num,
       n * n - (a1 * b1 + (n - a1) * (n - b1)) AS kappa_den,
       ROUND(CAST(n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE)
             / (n * n - (a1 * b1 + (n - a1) * (n - b1))), 6) AS kappa
FROM cm
"""

_pair(
    "qt60_agreement_kappa",
    _QT60_BODY.replace("{CLS}", _QT29_SPARK),
    _QT60_BODY.replace("{CLS}", _QT29_DUCK),
)


# --- qt61: per-host document caps (host-balanced sampling) ----------------------
#
# A handful of mega-hosts dominate any crawl; capping documents per host
# (C4 kept stricter per-URL rules, Dolma and friends cap per domain) is
# the cheapest diversity lever. Deterministic form: host = the qg05
# host scheme (doc_id % 10 scaled up in SF — any host key works), order
# within host by (md5(doc_id), doc_id) — a HASH order, so the kept
# sample is unbiased by position and reproducible run-to-run — keep the
# first K = 30. Output: every doc with its rank and kept flag, plus the
# host's total so the cut is auditable.
#
# 100 TB: ONE window partitioned by host (bounded fan-in per partition;
# a genuinely hot host is exactly the skew AQE splits post-shuffle for
# the count, and the rank window's partition is the host — the same key
# the politeness scheduler already ranges over). No global sort.

_QT61_BODY = """
WITH hosted AS (
  SELECT doc_id, doc_id % 10 AS host, md5(CAST(doc_id AS {STR})) AS hkey
  FROM documents
),
ranked AS (
  SELECT doc_id, host,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY hkey, doc_id)
           AS host_rank,
         COUNT(*) OVER (PARTITION BY host) AS host_total
  FROM hosted
)
SELECT doc_id, CAST(host AS BIGINT) AS host,
       CAST(host_rank AS BIGINT) AS host_rank,
       CAST(host_total AS BIGINT) AS host_total,
       CAST(CASE WHEN host_rank <= 30 THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM ranked
"""

_pair(
    "qt61_per_host_caps",
    _QT61_BODY.replace("{STR}", "STRING"),
    _QT61_BODY.replace("{STR}", "VARCHAR"),
)


# --- qt62: quantized character entropy (gibberish / binary-spill detector) ------
#
# Low character entropy means "aaaaaa..." spam; abnormally high means
# base64 blobs or binary spilled into a text field — both are corpus
# rot a quality stack gates on compression ratio or Shannon entropy.
# Both classic forms are float (libm log); the quantized integer form
# here is the floor-log2 identity the qt56 LM uses:
#     qent = n * flog(n) - sum_c count(c) * flog(count(c))
# (flog = floor(log2) = length(bin(x)) - 1, pure string/bit arithmetic)
# — exactly n*H(X) with every log quantized down, so it's deterministic
# across engines, monotone in the real entropy, and cheap. Output per
# doc: char count, distinct chars, qent, and the per-char milli-rate
# qent*1000 DIV n the gate thresholds on.
#
# 100 TB: one char-explode (same row count as the qt51 bigram explode)
# into a map-side-combined (doc, char) groupBy, then a per-doc groupBy.
# No windows, no joins, nothing global.

_QT62_BODY = """
WITH chars AS (
  SELECT doc_id, c
  FROM (SELECT doc_id, {CHARS} AS cl FROM documents) t {UNNEST}
  WHERE c <> ''
),
counts AS (
  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS k
  FROM chars GROUP BY doc_id, c
)
SELECT doc_id,
       CAST(SUM(k) AS BIGINT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(k) * (length(bin(SUM(k))) - 1)
            - SUM(k * (length(bin(k)) - 1)) AS BIGINT) AS qent,
       CAST((SUM(k) * (length(bin(SUM(k))) - 1)
             - SUM(k * (length(bin(k)) - 1))) * 1000 {IDIV} SUM(k)
            AS BIGINT) AS qent_milli_per_char
FROM counts
GROUP BY doc_id
"""

_pair(
    "qt62_char_entropy",
    _QT62_BODY.replace("{CHARS}", "split(lower(text), '')")
    .replace("{UNNEST}", "LATERAL VIEW explode(cl) g AS c")
    .replace("{IDIV}", "DIV"),
    _QT62_BODY.replace("{CHARS}", "string_split(lower(text), '')")
    .replace("{UNNEST}", ", LATERAL UNNEST(t.cl) AS u(c)")
    .replace("{IDIV}", "//"),
)


# --- qt64: tokenizer fertility by language (the multilingual cost accountant) ---
#
# Fertility — characters (and bytes) per subword token — is how
# multilingual training cost and context-window budgets are priced:
# a language whose tokenizer yields 2x the tokens per character pays 2x
# the compute for the same content (the "byte premium"). Reuses qt12's
# BPE-ish token regex so the two queries price the SAME tokenizer;
# byte length via the utf-8 encoded text (CJK chars cost 3 bytes — the
# byte premium is exactly what the chars ratio hides). Integer sums per
# lang + two one-op IEEE divides for the reported ratios.
#
# 100 TB: map-side regex counting into a partial-agg groupBy on lang —
# O(#languages) output rows, no window, no join.

_QT64_BODY = """
WITH per_doc AS (
  SELECT lang,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST({BYTELEN} AS BIGINT) AS n_bytes,
         CAST({LEN}(regexp_extract_all(text, '{RE}', 0)) AS BIGINT)
           AS n_tokens
  FROM documents
)
SELECT lang,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens), 6)
         AS chars_per_token,
       ROUND(CAST(SUM(n_bytes) AS DOUBLE) / SUM(n_tokens), 6)
         AS bytes_per_token
FROM per_doc
GROUP BY lang
"""

_pair(
    "qt64_tokenizer_fertility",
    _QT64_BODY.replace("{BYTELEN}", "octet_length(text)")
    .replace("{LEN}", "size")
    .replace("{RE}", _BPEISH_RE),
    _QT64_BODY.replace("{BYTELEN}", "octet_length(encode(text))")
    .replace("{LEN}", "len")
    .replace("{RE}", _BPEISH_RE),
)


# --- qt65: Flesch-Kincaid readability (integer-exact cross-product form) ---------
#
# Readability gates audience-level corpus mixes (children's vs academic
# tiers) and flags machine-generated keyword soup (absurd grades).
# The classic FK grade 0.39*w/s + 11.8*syl/w - 15.59 is float; in
# centi-grade units x100 it is (39*w^2 + 1180*syl*s - 1559*s*w)/(s*w)
# — numerator and denominator EXACT BIGINTs (the qt38/qt60 discipline),
# clamped at 0 BEFORE the single floor divide so trunc-vs-floor
# division semantics on negatives can never split the engines.
# Syllables are vowel-group runs per word, floored at 1 — the standard
# public heuristic. 100 TB: pure map-side (regex counting per doc,
# no shuffle at all; the optional corpus rollup is one partial agg).

_QT65_BODY = """
WITH w AS (
  SELECT doc_id,
         GREATEST(CAST({LEN}(regexp_extract_all(lower(text), '[a-z]+', 0))
                  AS BIGINT), 1) AS n_words,
         GREATEST(CAST({LEN}(regexp_extract_all(text, '[.!?]+', 0))
                  AS BIGINT), 1) AS n_sents,
         GREATEST(CAST({SYL} AS BIGINT), 1) AS n_syll
  FROM documents
)
SELECT doc_id, n_words, n_sents, n_syll AS n_syllables,
       CAST(GREATEST(39 * n_words * n_words + 1180 * n_syll * n_sents
                     - 1559 * n_sents * n_words, 0)
            {IDIV} (n_sents * n_words) AS BIGINT) AS fk_centigrade
FROM w
"""

_QT65_SYL_SPARK = (
    "aggregate(regexp_extract_all(lower(text), '[a-z]+', 0),"
    " CAST(0 AS BIGINT), (acc, wd) -> acc + greatest("
    "size(regexp_extract_all(wd, '[aeiouy]+', 0)), 1))"
)
_QT65_SYL_DUCK = (
    "coalesce(list_sum(list_transform("
    "regexp_extract_all(lower(text), '[a-z]+'),"
    " wd -> greatest(len(regexp_extract_all(wd, '[aeiouy]+')), 1))), 0)"
)

_pair(
    "qt65_readability",
    _QT65_BODY.replace("{LEN}", "size")
    .replace("{SYL}", _QT65_SYL_SPARK)
    .replace("{IDIV}", "DIV")
    .replace("regexp_extract_all(lower(text), '[a-z]+')",
             "regexp_extract_all(lower(text), '[a-z]+', 0)"),
    _QT65_BODY.replace("{LEN}", "len")
    .replace("{SYL}", _QT65_SYL_DUCK)
    .replace("{IDIV}", "//")
    .replace("regexp_extract_all(lower(text), '[a-z]+', 0)",
             "regexp_extract_all(lower(text), '[a-z]+')"),
)


# --- qt66: sliding-window context chunking (RAG / long-doc training prep) --------
#
# Long documents exceed context windows; retrieval and packing tiers
# both consume fixed-size token chunks with overlap (window 32, stride
# 24 here — the shape, not the tuning, is the contract). One map-side
# explode of chunk indices per doc — no shuffle, no window function;
# chunk count = ceil((n - W)/S) + 1 in pure integer form, and every
# chunk is CERTIFIED by an md5 over its joined token slice so both
# engines provably cut byte-identical chunks (the qt54/qt58 move).
# 100 TB: fan-out is bounded by doc length / stride; chunks inherit
# the doc's partition — nothing global anywhere.

_QT66_BODY = """
WITH d AS (
  SELECT doc_id, {SPLIT} AS toks,
         CAST({LEN}({SPLIT}) AS BIGINT) AS n
  FROM documents
), c AS (
  SELECT doc_id, toks, n,
         CAST(CASE WHEN n <= 32 THEN 1
              ELSE (n - 32 + 23) {IDIV} 24 + 1 END AS BIGINT) AS n_chunks
  FROM d
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(i * 24 AS BIGINT) AS tok_start,
       CAST(LEAST(32, n - i * 24) AS BIGINT) AS tok_len,
       md5({JOINED}) AS chunk_md5
FROM c {UNNEST}
"""

_pair(
    "qt66_sliding_chunks",
    _QT66_BODY.replace("{SPLIT}", "split(text, ' ')")
    .replace("{LEN}", "size")
    .replace("{IDIV}", "DIV")
    .replace(
        "{JOINED}",
        "array_join(slice(toks, i * 24 + 1, LEAST(32, n - i * 24)), ' ')",
    )
    .replace("{UNNEST}", "LATERAL VIEW explode(sequence(0, n_chunks - 1)) g AS i"),
    _QT66_BODY.replace("{SPLIT}", "string_split(text, ' ')")
    .replace("{LEN}", "len")
    .replace("{IDIV}", "//")
    .replace(
        "{JOINED}",
        "array_to_string(list_slice(toks, i * 24 + 1,"
        " i * 24 + LEAST(32, n - i * 24)), ' ')",
    )
    .replace("{UNNEST}", ", LATERAL UNNEST(range(c.n_chunks)) AS u(i)"),
)


# --- qt67: code-switching detection (per-sentence language mixing) ---------------
#
# Document-level langid (qt04) mislabels MIXED documents — forum
# threads, quote-heavy pages, boilerplate-in-one-language sites — and
# mixed docs poison monolingual training slices. Sentence-level pass:
# split on sentence punctuation, label each sentence by the same
# padded-stopword containment count qt04 uses (' the ' vs ' der ',
# counted via the length-difference trick, both length 5), then fold:
# sentence counts per label + an is_mixed flag when both languages win
# at least one sentence. Everything stays INSIDE the row on the Spark
# side (transform/filter over the split array — zero explode, zero
# shuffle); the DuckDB oracle computes the same values in the same
# in-row shape. 100 TB: pure map-side, like qt65.

_QT67_CNT = (
    "CAST((length(concat(' ', x, ' '))"
    " - length(replace(concat(' ', x, ' '), '{PAT}', ''))) {IDIV} 5"
    " AS BIGINT)"
)
_QT67_LABEL = (
    "CASE WHEN " + _QT67_CNT.replace("{PAT}", " the ")
    + " > " + _QT67_CNT.replace("{PAT}", " der ")
    + " THEN 1 WHEN " + _QT67_CNT.replace("{PAT}", " der ")
    + " > " + _QT67_CNT.replace("{PAT}", " the ")
    + " THEN 2 ELSE 0 END"
)

_QT67_BODY = """
WITH s AS (
  SELECT doc_id, {TR}({SPLITRE}, x -> {LABEL}) AS codes
  FROM documents
)
SELECT doc_id,
       CAST({LEN}(codes) AS BIGINT) AS n_sents,
       CAST({LEN}({FILT}(codes, c -> c = 1)) AS BIGINT) AS n_en,
       CAST({LEN}({FILT}(codes, c -> c = 2)) AS BIGINT) AS n_de,
       CAST(CASE WHEN {LEN}({FILT}(codes, c -> c = 1)) > 0
                  AND {LEN}({FILT}(codes, c -> c = 2)) > 0
            THEN 1 ELSE 0 END AS INTEGER) AS is_mixed
FROM s
"""

_pair(
    "qt67_code_switching",
    _QT67_BODY.replace("{TR}", "transform")
    .replace("{SPLITRE}", "split(text, '[.!?] ')")
    .replace("{LABEL}", _QT67_LABEL.replace("{IDIV}", "DIV"))
    .replace("{LEN}", "size")
    .replace("{FILT}", "filter"),
    _QT67_BODY.replace("{TR}", "list_transform")
    .replace("{SPLITRE}", "string_split_regex(text, '[.!?] ')")
    .replace("{LABEL}", _QT67_LABEL.replace("{IDIV}", "//"))
    .replace("{LEN}", "len")
    .replace("{FILT}", "list_filter"),
)


# --- qt68: domain-level boilerplate line removal (cross-doc, CCNet-style) -----
#
# Per-document repetition rules (qt23) can't catch the nav/footer lines
# a TEMPLATE stamps on every page of a host — the signal is CROSS-doc:
# a line is boilerplate for a domain when it appears in >= 30% of that
# domain's documents (and at least 2 of them, so tiny hosts can't
# self-boiler). The documents table is a single-line word soup, so each
# page's "rendered lines" are derived deterministically: a header line
# and (for 2/3 of docs) a copyright line that repeat host-wide (dropped),
# the body text (kept), and a 'special offer K' line shared by ~1/5 of a
# host's docs — present in >=2 docs but UNDER the 30% ratio, pinning the
# threshold from below. Cleaned text is md5-CERTIFIED from the kept
# lines in line order (the qt54/qt66 move), so both engines provably
# reassemble byte-identical pages. 100 TB dataflow: one groupBy on
# (host, line-hash) — evenly distributed, hash keys don't skew — a
# shuffle join back, and a broadcast of the O(hosts) doc-count table;
# no windows, no collects.

_QT68_LINES = """
  SELECT doc_id, source, 0 AS pos,
         'HEAD|' || source || '|promo' AS line FROM documents
  UNION ALL
  SELECT doc_id, source, 1, text FROM documents
  UNION ALL
  SELECT doc_id, source, 2, 'special offer ' || (doc_id % 50)
  FROM documents
  UNION ALL
  SELECT doc_id, source, 3, '(c) ' || source || ' all rights reserved'
  FROM documents WHERE doc_id % 3 > 0
"""

_QT68_BODY = """
WITH lines AS ({LINES}),
nsrc AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs
         FROM documents GROUP BY source),
freq AS (SELECT source, line, COUNT(DISTINCT doc_id) AS c
         FROM lines GROUP BY source, line),
judged AS (
  SELECT l.doc_id, l.pos, l.line,
         (f.c >= 2 AND f.c * 10 >= 3 * n.n_docs) AS boiler
  FROM lines l
  JOIN freq f ON l.source = f.source AND l.line = f.line
  JOIN nsrc n ON l.source = n.source)
SELECT doc_id,
       CAST(SUM(CASE WHEN boiler THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       {CLEAN_MD5} AS clean_md5
FROM judged
GROUP BY doc_id
"""

_pair(
    "qt68_domain_boilerplate",
    _QT68_BODY.replace("{LINES}", _QT68_LINES).replace(
        "{CLEAN_MD5}",
        "md5(array_join(transform(array_sort(collect_list("
        "CASE WHEN NOT boiler THEN named_struct('pos', pos, 'line', line)"
        " END)), s -> s.line), chr(10)))",
    ),
    _QT68_BODY.replace("{LINES}", _QT68_LINES).replace(
        "{CLEAN_MD5}",
        "md5(coalesce(string_agg(CASE WHEN NOT boiler THEN line END,"
        " chr(10) ORDER BY pos), ''))",
    ),
)


# --- qt69: vocabulary growth / type-token profile (Heaps signal) --------------
#
# Templated, machine-generated and keyword-stuffed pages violate the
# Heaps-law expectation that NEW word types keep arriving as a document
# grows: their second half introduces almost no types the first half
# didn't already use. The profile is integer-exact: distinct types in
# the first half (by word position), distinct types overall, the
# second-half-new count, and a per-mille type-token ratio with one
# floor divide (the qt65 discipline). Spark side stays INSIDE the row
# (slice + array_distinct over the split array — zero explode, zero
# shuffle); complements qt23 (intra-doc repetition) and qt51 (bigram
# novelty) with the type-ACCUMULATION view.

_QT69_BODY = """
WITH w AS (SELECT doc_id, {SPLIT} AS ws FROM documents),
m AS (SELECT doc_id, ws, {LEN}(ws) AS n, {LEN}(ws) {IDIV} 2 AS k FROM w)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_words,
       CAST({LEN}({DISTINCT}({FIRSTK})) AS BIGINT) AS vocab_half,
       CAST({LEN}({DISTINCT}(ws)) AS BIGINT) AS vocab_full,
       CAST({LEN}({DISTINCT}(ws)) - {LEN}({DISTINCT}({FIRSTK}))
            AS BIGINT) AS second_half_new,
       CAST((1000 * {LEN}({DISTINCT}(ws))) {IDIV} n AS BIGINT)
           AS ttr_permille
FROM m
"""

_pair(
    "qt69_vocab_growth",
    _QT69_BODY.replace("{SPLIT}", "split(text, ' ')")
    .replace("{LEN}", "size")
    .replace("{DISTINCT}", "array_distinct")
    .replace("{FIRSTK}", "slice(ws, 1, k)")
    .replace("{IDIV}", "DIV"),
    _QT69_BODY.replace("{SPLIT}", "string_split(text, ' ')")
    .replace("{LEN}", "len")
    .replace("{DISTINCT}", "list_distinct")
    .replace("{FIRSTK}", "ws[1 : k]")
    .replace("{IDIV}", "//"),
)


# --- qt71: curriculum ordering (difficulty bands, shard-local positions) -------
#
# Curriculum schedules want easy->hard batches WITHOUT a global sort:
# a global ROW_NUMBER is the qr38 SinglePartition killer, and training
# shards only need intra-shard order anyway (loaders consume shards
# independently). Difficulty = capped length band (integer, the cheap
# public proxy; qt65's readability slots in the same ORDER BY);
# position = ROW_NUMBER PARTITIONED BY the shard key, ordered by
# (band, md5(doc_id)) so within a band the order is a deterministic
# hash shuffle (qt48's epoch-shuffle move) with a unique tiebreak.
# 100 TB: one hash shuffle on shard + per-partition sort, never a
# global window.

_QT71_BODY = """
WITH m AS (
  SELECT doc_id,
         CAST(doc_id % 16 AS BIGINT) AS shard,
         CAST(LEAST(n_chars {IDIV} 150, 5) AS BIGINT) AS band
  FROM documents)
SELECT doc_id, shard, band,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY shard
           ORDER BY band, md5({STR}), doc_id
       ) AS BIGINT) AS pos
FROM m
"""

_pair(
    "qt71_curriculum_order",
    _QT71_BODY.replace("{IDIV}", "DIV").replace(
        "{STR}", "CAST(doc_id AS STRING)"
    ),
    _QT71_BODY.replace("{IDIV}", "//").replace(
        "{STR}", "CAST(doc_id AS VARCHAR)"
    ),
)


# --- qt72: dataset card rollup (the per-source datasheet) ---------------------
#
# Every released corpus ships a datasheet; the numbers in it are ONE
# grouped pass over the corpus: doc/lang counts, token+char volume,
# exact-dup count (docs minus distinct content hashes — md5 collisions
# are not a 10^12-scale concern and both engines hash identically),
# and the length envelope. One groupBy(source) with map-side partials;
# COUNT(DISTINCT md5) is the only expensive aggregate and it shuffles
# on (source, hash) — hash-even by construction.

_QT72_BODY = """
WITH t AS (
  SELECT source, lang, n_chars,
         {LEN}({SPLIT}) AS n_words,
         md5(text) AS h
  FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_words) AS BIGINT) AS total_words,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM t
GROUP BY source
"""

_pair(
    "qt72_dataset_card",
    _QT72_BODY.replace("{LEN}", "size").replace(
        "{SPLIT}", "split(text, ' ')"
    ),
    _QT72_BODY.replace("{LEN}", "len").replace(
        "{SPLIT}", "string_split(text, ' ')"
    ),
)


# --- qt73: spam-lexicon scoring (SEO-spam wordlist gate) ----------------------
#
# The cheapest unsafe/spam gate every web-quality stack carries: count
# hits against a commercial-spam lexicon (the public SEO-spam term
# class — gambling/pharma/finance bait), distinct terms hit, integer
# per-mille density (one floor divide, qt65 discipline), flag at >= 2
# hits. The corpus word-soup carries no spam terms, so the page text
# is AUGMENTED deterministically in-query (doc_id % 7 residues append
# known spam runs) — both engines build the identical string, the
# counts pin the scorer. Spark stays in-row: filter/array_distinct
# over the split array, zero explode, zero shuffle.

_QT73_LEX = "'casino', 'jackpot', 'viagra', 'lottery', 'forex'"

_QT73_BODY = """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
                THEN text || ' casino jackpot casino'
              WHEN doc_id % 7 = 3 THEN text || ' viagra'
              ELSE text END AS t
  FROM documents),
w AS (SELECT doc_id, {SPLIT} AS ws FROM aug)
SELECT doc_id,
       CAST({LEN}(ws) AS BIGINT) AS n_words,
       CAST({LEN}({FILT}(ws, x -> x IN ({LEX}))) AS BIGINT) AS n_hits,
       CAST({LEN}({DISTINCT}({FILT}(ws, x -> x IN ({LEX}))))
            AS BIGINT) AS n_terms,
       CAST((1000 * {LEN}({FILT}(ws, x -> x IN ({LEX}))))
            {IDIV} {LEN}(ws) AS BIGINT) AS spam_permille,
       ({LEN}({FILT}(ws, x -> x IN ({LEX}))) >= 2) AS is_spam
FROM w
"""

_pair(
    "qt73_spam_lexicon",
    _QT73_BODY.replace("{SPLIT}", "split(t, ' ')")
    .replace("{LEN}", "size")
    .replace("{FILT}", "filter")
    .replace("{DISTINCT}", "array_distinct")
    .replace("{LEX}", _QT73_LEX)
    .replace("{IDIV}", "DIV"),
    _QT73_BODY.replace("{SPLIT}", "string_split(t, ' ')")
    .replace("{LEN}", "len")
    .replace("{FILT}", "list_filter")
    .replace("{DISTINCT}", "list_distinct")
    .replace("{LEX}", _QT73_LEX)
    .replace("{IDIV}", "//"),
)


# --- qt74: corpus-build pipeline manifest (stage-composition capstone) --------
#
# The individual stages are certified one by one (qt03 quality, qt04
# langid, qt01 exact dedup, qt61 host caps, qt71 curriculum); what a
# RELEASE needs is their COMPOSITION in one auditable pass: every doc
# gets a kept/dropped verdict with the FIRST failing stage as its
# reason (the lineage a datasheet cites), survivors get their final
# shard + curriculum position. Stage order is the production order —
# dedup ranks only length/lang survivors (dropping garbage first makes
# the dup key-space smaller), host caps rank only dedup survivors.
# 100 TB: three windows, each PARTITIONED by a bounded key (content
# hash / host / shard) — no global sort anywhere; the final LEFT JOIN
# back to the full corpus is a hash join on doc_id.

_QT74_BODY = """
WITH base AS (
  SELECT doc_id, source, lang, n_chars, md5(text) AS h
  FROM documents),
flagged AS (
  SELECT *,
         (n_chars >= 100) AS ok_len,
         lang IN ('en', 'fr', 'de', 'es') AS ok_lang
  FROM base),
surv1 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS dup_rank
  FROM flagged WHERE ok_len AND ok_lang),
surv2 AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY md5({STR}), doc_id) AS host_rank
  FROM surv1 WHERE dup_rank = 1),
kept AS (
  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
         CAST(LEAST(n_chars {IDIV} 150, 5) AS BIGINT) AS band
  FROM surv2 WHERE host_rank <= 20),
placed AS (
  SELECT doc_id, shard,
         CAST(ROW_NUMBER() OVER (
             PARTITION BY shard ORDER BY band, md5({STR}), doc_id
         ) AS BIGINT) AS pos
  FROM kept)
SELECT b.doc_id,
       (p.doc_id IS NOT NULL) AS kept,
       CASE WHEN NOT f.ok_len THEN 'too_short'
            WHEN NOT f.ok_lang THEN 'lang'
            WHEN s1.dup_rank > 1 THEN 'duplicate'
            WHEN s2.host_rank > 20 THEN 'host_cap'
            ELSE 'kept' END AS reason,
       p.shard, p.pos
FROM base b
JOIN flagged f ON b.doc_id = f.doc_id
LEFT JOIN surv1 s1 ON b.doc_id = s1.doc_id
LEFT JOIN surv2 s2 ON b.doc_id = s2.doc_id
LEFT JOIN placed p ON b.doc_id = p.doc_id
"""

_pair(
    "qt74_pipeline_manifest",
    _QT74_BODY.replace("{STR}", "CAST(doc_id AS STRING)").replace(
        "{IDIV}", "DIV"
    ),
    _QT74_BODY.replace("{STR}", "CAST(doc_id AS VARCHAR)").replace(
        "{IDIV}", "//"
    ),
)


# --- qt75: bitext candidate pairing + length-ratio filter ---------------------
#
# Parallel-corpus mining (the CCAligned/CCMatrix family): hreflang
# clusters (qx62) nominate language-version PAIRS of one page; before
# any expensive alignment, every production miner applies the
# Gale-Church length-ratio prefilter — translations have near-
# proportional lengths, so a pair whose char lengths differ by more
# than 2x is discarded unseen. Pairing here derives the translation
# group deterministically (group = doc_id DIV 2, even = source side,
# odd = target side) so both engines build identical candidates; the
# filter is integer per-mille (1000*least/greatest, one floor divide).
# Paragraph counts (ceil(words/20), the qt66 chunk rule) bound the
# 1-1 monotone alignment a downstream aligner would emit. 100 TB: ONE
# hash equi-join on the bounded group key (2 docs/group — no skew), no
# window, no explode; the length math is map-side.

_QT75_BODY = """
WITH sides AS (
  SELECT doc_id, doc_id {IDIV} 2 AS grp, doc_id % 2 AS side,
         n_chars,
         ({LEN}({SPLIT}) + 19) {IDIV} 20 AS n_para
  FROM documents)
SELECT a.grp,
       a.doc_id AS src_id,
       b.doc_id AS tgt_id,
       CAST(a.n_chars AS BIGINT) AS src_chars,
       CAST(b.n_chars AS BIGINT) AS tgt_chars,
       CAST((1000 * LEAST(a.n_chars, b.n_chars))
            {IDIV} GREATEST(a.n_chars, b.n_chars) AS BIGINT)
           AS ratio_permille,
       CAST(LEAST(a.n_para, b.n_para) AS BIGINT) AS n_aligned,
       ((1000 * LEAST(a.n_chars, b.n_chars))
            {IDIV} GREATEST(a.n_chars, b.n_chars) >= 500) AS kept
FROM sides a JOIN sides b
  ON a.grp = b.grp AND a.side = 0 AND b.side = 1
"""

_pair(
    "qt75_bitext_pairs",
    _QT75_BODY.replace("{SPLIT}", "split(text, ' ')")
    .replace("{LEN}", "size")
    .replace("{IDIV}", "DIV"),
    _QT75_BODY.replace("{SPLIT}", "string_split(text, ' ')")
    .replace("{LEN}", "len")
    .replace("{IDIV}", "//"),
)


# --- qt77: shingle containment (Broder's asymmetric near-dup measure) ---------
#
# Resemblance (Jaccard, qt07) misses the QUOTE case: a short document
# wholly embedded in a long one scores low Jaccard but is still a dup
# for training purposes (the "article + comments" page, the quoted
# reply, the syndicated excerpt). Broder's containment c(A,B) =
# |S(A) n S(B)| / |S(A)| is the asymmetric fix. Certified here on a
# self-evident pair per doc — the first HALF of the token stream vs
# the full stream — because prefix shingles are provably a subset:
# c(half, full) must be exactly 1000 permille (the engine that breaks
# shingling, distinctness, or intersection fails this invariant),
# while c(full, half) varies per doc with repeated-shingle structure.
# 100 TB: entirely IN-ROW (array_distinct/array_intersect on the
# shingle arrays — zero explode, zero shuffle, zero join); the
# cross-doc candidate generation for real corpora stays qt06's banded
# LSH, with this containment as the verify stage instead of qt11's
# symmetric Jaccard when quote-dups matter.

_QT77_SPARK = """
WITH base AS (
  SELECT doc_id, split(text, ' ') AS toks FROM documents
  WHERE size(split(text, ' ')) >= 6),
sh AS (
  SELECT doc_id,
         array_distinct(transform(sequence(1, size(toks) - 2),
                        i -> concat_ws(' ', slice(toks, i, 3)))) AS s_full,
         array_distinct(transform(
             sequence(1, size(toks) DIV 2 - 2),
             i -> concat_ws(' ', slice(toks, i, 3)))) AS s_half
  FROM base)
SELECT doc_id,
       CAST(size(s_full) AS BIGINT) AS n_full,
       CAST(size(s_half) AS BIGINT) AS n_half,
       CAST(size(array_intersect(s_half, s_full)) AS BIGINT) AS n_shared,
       CAST(1000 * size(array_intersect(s_half, s_full))
            DIV size(s_half) AS BIGINT) AS contain_half_permille,
       CAST(1000 * size(array_intersect(s_half, s_full))
            DIV size(s_full) AS BIGINT) AS contain_full_permille,
       (1000 * size(array_intersect(s_half, s_full))
            DIV size(s_half) >= 800) AS is_quote_dup
FROM sh
"""

_QT77_DUCK = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 6),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS s_full,
         list_distinct(list_transform(
             range(1, len(toks) // 2 - 1),
             i -> array_to_string(toks[i:i+2], ' '))) AS s_half
  FROM base)
SELECT doc_id,
       CAST(len(s_full) AS BIGINT) AS n_full,
       CAST(len(s_half) AS BIGINT) AS n_half,
       CAST(len(list_intersect(s_half, s_full)) AS BIGINT) AS n_shared,
       CAST(1000 * len(list_intersect(s_half, s_full))
            // len(s_half) AS BIGINT) AS contain_half_permille,
       CAST(1000 * len(list_intersect(s_half, s_full))
            // len(s_full) AS BIGINT) AS contain_full_permille,
       (1000 * len(list_intersect(s_half, s_full))
            // len(s_half) >= 800) AS is_quote_dup
FROM sh
"""

_pair("qt77_shingle_containment", _QT77_SPARK, _QT77_DUCK)


# --- qt78: Zipf octave profile (rank-frequency structure, integer-exact) -------
#
# The companion diagnostic to qt69's Heaps law: natural language has a
# power-law rank-frequency curve, and corpora that DON'T (template
# farms, generated spam, OCR noise) show it immediately in the octave
# histogram — types bucketed by floor(log2(count)). The floor-log2 is
# computed ENGINE-EXACTLY as length(bin(count)) - 1 (both engines
# print identical minimal binary strings — no float log anywhere).
# Per octave: distinct types, total occurrences, count envelope — the
# release-datasheet vocabulary table. 100 TB: one explode + one
# groupBy(token) with map-side partials (the qt02 token-count shape —
# uniformly-hashed keys), then a trivial octave rollup reusing nothing
# heavier than a second tiny aggregation.

_QT78_BODY = """
WITH toks AS (SELECT {TOK} AS tok FROM documents),
counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks WHERE tok <> '' GROUP BY tok)
SELECT CAST(LENGTH(bin(cnt)) - 1 AS BIGINT) AS octave,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(MIN(cnt) AS BIGINT) AS min_count,
       CAST(MAX(cnt) AS BIGINT) AS max_count
FROM counts
GROUP BY octave
"""

_pair(
    "qt78_zipf_octaves",
    _QT78_BODY.replace(
        "{TOK}", "explode(split(text, ' '))"
    ),
    _QT78_BODY.replace(
        "{TOK}", "unnest(string_split(text, ' '))"
    ),
)


# --- qt79: word burstiness (dispersion index, integer-exact) ------------------
#
# The corpus-linguistics complement to qt24's commonness and qt78's
# Zipf octaves: topical words are BURSTY (their occurrences clump in
# few documents — high variance-to-mean), function words are uniform
# (dispersion ~ mean-independent). The dispersion index D = Var/Mean
# = (N*sumsq - sum^2)/(N*sum) is computed all-integer (milli-scaled,
# one floor divide at the end): docs not containing a word contribute
# 0 to both sum and sumsq, so the per-(word,doc) count table needs no
# zero-fill — the sparse representation IS the computation. Keyword
# extractors use exactly this to separate content terms from glue.
# 100 TB: explode -> groupBy(word,doc) with map-side partials ->
# groupBy(word) reusing the word hash; N is one broadcast scalar.

_QT79_BODY = """
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
wc AS (
  SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id, {TOK} AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY tok, doc_id),
agg AS (
  SELECT tok, SUM(c) AS s, SUM(c * c) AS ss,
         CAST(COUNT(*) AS BIGINT) AS present
  FROM wc GROUP BY tok)
SELECT tok AS word,
       CAST(s AS BIGINT) AS total_count,
       present AS n_docs_present,
       CAST((1000 * ((SELECT nd FROM n) * ss - s * s))
            {IDIV} ((SELECT nd FROM n) * s) AS BIGINT)
           AS burstiness_milli
FROM agg WHERE s >= 20
"""

_pair(
    "qt79_word_burstiness",
    _QT79_BODY.replace("{TOK}", "explode(split(text, ' '))")
    .replace("{IDIV}", "DIV"),
    _QT79_BODY.replace("{TOK}", "unnest(string_split(text, ' '))")
    .replace("{IDIV}", "//"),
)


# --- qt80: size-balanced shard assignment (snake packing) ---------------------
#
# Release shards should be byte-balanced (training readers stall on
# the largest file, uploads parallelize by shard). First-fit-
# decreasing is inherently sequential; the scalable deterministic
# stand-in every sharded writer uses is SNAKE (boustrophedon)
# assignment over the size-descending rank: shard = pos % k on even
# passes, k-1-pos % k on odd — pairing big docs with small ones so
# per-shard totals converge without any coordination. Certified by
# per-shard doc counts + byte totals + the max/min imbalance ratio
# (integer per-mille). The rank is ONE global ordering — at 10^12
# docs that becomes the qr38 two-phase scalable rank (plan-guarded
# there); here the 8-shard rollup is the oracle target. Imbalance
# stays under 1.2x on the corpus — the property the snake exists for.

_QT80_BODY = """
WITH ranked AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS pos
  FROM documents),
assigned AS (
  SELECT doc_id, n_chars,
         CASE WHEN (pos {IDIV} 8) % 2 = 0
              THEN pos % 8 ELSE 7 - pos % 8 END AS shard
  FROM ranked),
shards AS (
  SELECT shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_bytes
  FROM assigned GROUP BY shard)
SELECT shard, n_docs, total_bytes,
       CAST((1000 * total_bytes)
            {IDIV} (SELECT MIN(total_bytes) FROM shards) AS BIGINT)
           AS vs_min_permille
FROM shards
"""

_pair(
    "qt80_shard_balance",
    _QT80_BODY.replace("{IDIV}", "DIV"),
    _QT80_BODY.replace("{IDIV}", "//"),
)


# --- qt81: MinHash estimator calibration (agreement vs exact Jaccard) ---------
#
# The contract that justifies the whole qt05/qt06 LSH tier: P[minhash
# agree] = J(A,B) (Broder), so the 4-hash agreement count is a 0..4
# binomial estimator of Jaccard. Organic adjacent pairs in the corpus
# are almost all J=0, so the calibration pairs are DERIVED: for every
# doc, variant B replaces every m-th token (m = (doc_id % 8) * 3 + 2) with
# a sentinel -- a family of pairs spanning ~J=0.05..0.9 both engines
# construct identically. Everything is IN-ROW (the qt77 discipline):
# shingle arrays, one md5 per shingle sliced into the 4 qt05 windows,
# array_min for the signatures, distinct-intersect for exact Jaccard
# -- zero joins, zero explode, zero shuffle before the 5-row rollup.
# The result is the estimator\'s calibration table (per agreement
# level: pair count + mean exact Jaccard per-mille), monotone in
# agreement on this corpus -- the property band-threshold tuning uses.

_QT81_SPARK = """
WITH base AS (
  SELECT doc_id, split(text, ' ') AS ta, (doc_id % 8) * 3 + 2 AS m
  FROM documents WHERE size(split(text, ' ')) >= 6),
vari AS (
  SELECT doc_id,
         ta,
         transform(sequence(1, size(ta)),
                   i -> CASE WHEN i % m = 0 THEN 'zzq' ELSE ta[i - 1] END)
             AS tb
  FROM base),
sh AS (
  SELECT doc_id,
         array_distinct(transform(sequence(1, size(ta) - 2),
                        i -> concat_ws(' ', slice(ta, i, 3)))) AS sa,
         array_distinct(transform(sequence(1, size(tb) - 2),
                        i -> concat_ws(' ', slice(tb, i, 3)))) AS sb
  FROM vari),
sig AS (
  SELECT doc_id, sa, sb,
         transform(sa, x -> md5(x)) AS ha,
         transform(sb, x -> md5(x)) AS hb
  FROM sh),
pairs AS (
  SELECT doc_id,
         CAST({AGREE} AS BIGINT) AS agree,
         CAST(1000 * size(array_intersect(sa, sb))
              DIV (size(sa) + size(sb) - size(array_intersect(sa, sb)))
              AS BIGINT) AS jaccard_permille
  FROM sig)
SELECT agree,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(jaccard_permille) DIV COUNT(*) AS BIGINT)
           AS mean_jaccard_permille
FROM pairs
GROUP BY agree
"""

_QT81_AGREE_SPARK = " + ".join(
    f"(CASE WHEN array_min(transform(ha, h -> substr(h, {1 + 8 * j}, 8)))"
    f" = array_min(transform(hb, h -> substr(h, {1 + 8 * j}, 8)))"
    f" THEN 1 ELSE 0 END)"
    for j in range(N_MINHASH)
)

_QT81_DUCK = """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ta, (doc_id % 8) * 3 + 2 AS m
  FROM documents WHERE len(string_split(text, ' ')) >= 6),
vari AS (
  SELECT doc_id,
         ta,
         list_transform(range(1, len(ta) + 1),
                        i -> CASE WHEN i % m = 0 THEN 'zzq'
                                  ELSE ta[i] END) AS tb
  FROM base),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(ta) - 1),
                       i -> array_to_string(ta[i:i+2], ' '))) AS sa,
         list_distinct(list_transform(range(1, len(tb) - 1),
                       i -> array_to_string(tb[i:i+2], ' '))) AS sb
  FROM vari),
sig AS (
  SELECT doc_id, sa, sb,
         list_transform(sa, x -> md5(x)) AS ha,
         list_transform(sb, x -> md5(x)) AS hb
  FROM sh),
pairs AS (
  SELECT doc_id,
         CAST({AGREE} AS BIGINT) AS agree,
         CAST(1000 * len(list_intersect(sa, sb))
              // (len(sa) + len(sb) - len(list_intersect(sa, sb)))
              AS BIGINT) AS jaccard_permille
  FROM sig)
SELECT agree,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(jaccard_permille) // COUNT(*) AS BIGINT)
           AS mean_jaccard_permille
FROM pairs
GROUP BY agree
"""

_QT81_AGREE_DUCK = " + ".join(
    f"(CASE WHEN list_aggregate(list_transform(ha,"
    f" h -> substr(h, {1 + 8 * j}, 8)), 'min')"
    f" = list_aggregate(list_transform(hb,"
    f" h -> substr(h, {1 + 8 * j}, 8)), 'min')"
    f" THEN 1 ELSE 0 END)"
    for j in range(N_MINHASH)
)

_pair(
    "qt81_minhash_calibration",
    _QT81_SPARK.replace("{AGREE}", _QT81_AGREE_SPARK),
    _QT81_DUCK.replace("{AGREE}", _QT81_AGREE_DUCK),
)


# --- qt82: deterministic train/val/test split (hash ranges, per-stratum) ------
#
# The split every release ships: assignment must be DETERMINISTIC
# (reruns and incremental updates land each doc in the same split —
# no random() anywhere), CONTENT-INDEPENDENT of curation order, and
# auditable per stratum. Assignment = first two md5(doc-key) hex
# chars as an integer 0..255: [0,204) train / [204,230) val /
# [230,256) test (~80/10/10). The rollup certifies per-source split
# counts plus the exact global proportions; disjointness and
# exhaustiveness hold by construction of the ranges (one CASE, no
# overlaps, no gaps — an engine disagreeing on md5 or on the
# nibble-table hex parse hash-fails; the parse is spelled with
# instr on a hex-digit table because the engines' native hex
# casts differ: conv() vs from_hex-to-BLOB). 100 TB: assignment is map-side; one bounded-key
# groupBy(source, split).

_QT82_BODY = """
WITH assigned AS (
  SELECT source,
         CASE WHEN h < 204 THEN 'train'
              WHEN h < 230 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT source,
           CAST((instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(hx, 2, 1)) - 1
                AS BIGINT) AS h
    FROM (SELECT source, substr(md5(CAST(doc_id AS {STR}) || ':' || source),
                                1, 2) AS hx
          FROM documents)))
SELECT source, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM assigned
GROUP BY source, split
"""

_pair(
    "qt82_eval_split",
    _QT82_BODY.replace("{STR}", "STRING"),
    _QT82_BODY.replace("{STR}", "VARCHAR"),
)


# --- qt83: dedup saturation curve (dup rate vs corpus prefix) -----------------
#
# The curve that decides WHEN to stop crawling a source: as a corpus
# grows, the marginal novel-content rate falls, and the release
# datasheet shows it as cumulative distinct-content vs cumulative
# docs per corpus decile. Computed scalably: each content hash
# contributes to the decile where it is FIRST seen (min bucket per
# hash — one groupBy), so cumulative distincts are a running sum over
# TEN rows, not a rescan per prefix (the naive prefix-join reads the
# corpus 10x; this reads it once). Integer per-mille dup rate.

_QT83_BODY = """
WITH bucketed AS (
  SELECT doc_id {IDIV} ((SELECT MAX(doc_id) FROM documents) {IDIV} 10 + 1)
             AS bucket,
         md5(text) AS h
  FROM documents),
per_bucket AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs FROM bucketed
  GROUP BY bucket),
first_seen AS (
  SELECT MIN(bucket) AS fb FROM bucketed GROUP BY h),
novel AS (
  SELECT fb AS bucket, CAST(COUNT(*) AS BIGINT) AS n_novel
  FROM first_seen GROUP BY fb)
SELECT p.bucket,
       CAST(SUM(p.n_docs) OVER (ORDER BY p.bucket) AS BIGINT) AS docs_cum,
       CAST(SUM(COALESCE(n.n_novel, 0)) OVER (ORDER BY p.bucket)
            AS BIGINT) AS distinct_cum,
       CAST(1000 - (1000 * SUM(COALESCE(n.n_novel, 0)) OVER (ORDER BY p.bucket))
            {IDIV} SUM(p.n_docs) OVER (ORDER BY p.bucket) AS BIGINT)
           AS dup_permille
FROM per_bucket p LEFT JOIN novel n ON n.bucket = p.bucket
"""

_pair(
    "qt83_dedup_saturation",
    _QT83_BODY.replace("{IDIV}", "DIV"),
    _QT83_BODY.replace("{IDIV}", "//"),
)


# --- qt85: hapax ratio per source (lexical richness) --------------------------
#
# The per-source datasheet lens qt78's global octaves don't give:
# hapax legomena share (words occurring once WITHIN the source) is
# the classic lexical-richness signal — template/boilerplate farms
# have low hapax ratios (the same vocabulary recycled), organic prose
# sits near the Zipf-predicted half of the vocabulary. Per source:
# vocabulary size, hapax count, integer per-mille ratio, token total.
# 100 TB: one explode -> groupBy(source, word) with map-side partials
# -> bounded-key source rollup reusing the source hash.

_QT85_BODY = """
WITH counts AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT source, {TOK} AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY source, tok)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(1000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
            {IDIV} COUNT(*) AS BIGINT) AS hapax_permille
FROM counts
GROUP BY source
"""

_pair(
    "qt85_hapax_ratio",
    _QT85_BODY.replace("{TOK}", "explode(split(text, ' '))")
    .replace("{IDIV}", "DIV"),
    _QT85_BODY.replace("{TOK}", "unnest(string_split(text, ' '))")
    .replace("{IDIV}", "//"),
)


# --- qt86: host-concentration Gini (crawl-diversity datasheet number) ---------
#
# "Is the corpus a thousand sites wearing a trenchcoat?" — the
# Lorenz/Gini concentration of documents over hosts is the standard
# diversity disclosure next to qt61's hard caps. Integer-exact via
# the rank formula: with per-host counts c_i ranked ascending
# (count, then host for determinism), G = (2*SUM(i*c_i) -
# (n+1)*SUM(c_i)) / (n*SUM(c_i)) — emitted as gini_milli with one
# floor divide plus the raw integer numerator/denominator so the
# exact rational survives. 100 TB: one bounded-key groupBy(host)
# reduces the corpus to |hosts| rows; the rank window runs over that
# reduction only (at 10^12 docs, |hosts| ~ 10^7 — window-safe; the
# qr38 two-phase rank applies beyond).

_QT86_BODY = """
WITH hosts AS (
  SELECT source AS host, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY source),
ranked AS (
  SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c, host) AS BIGINT) AS rk
  FROM hosts)
SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(2 * SUM(rk * c) - (COUNT(*) + 1) * SUM(c) AS BIGINT)
           AS gini_num,
       CAST(COUNT(*) * SUM(c) AS BIGINT) AS gini_den,
       CAST((1000 * (2 * SUM(rk * c) - (COUNT(*) + 1) * SUM(c)))
            {IDIV} (COUNT(*) * SUM(c)) AS BIGINT) AS gini_milli
FROM ranked
"""

_pair(
    "qt86_host_gini",
    _QT86_BODY.replace("{IDIV}", "DIV"),
    _QT86_BODY.replace("{IDIV}", "//"),
)


# --- qt87: normalization-ladder dedup delta -----------------------------------
#
# How much MORE duplication does each normalization rung expose?
# Exact-hash dedup (qt01) misses trivially-reformatted copies; the
# production ladder is exact -> casefold -> alphanumeric-squash
# (punctuation/whitespace collapsed), and the DELTA between rungs is
# the measured value of each normalization — release datasheets
# report it so consumers know which dedup level the corpus received.
# Distinct counts are monotone nonincreasing down the ladder by
# construction; the squash regex ([^a-z0-9]+ -> ' ') is portable
# RE2/Java syntax. 100 TB: three map-side hash derivations, one
# groupBy-free distinct count each via approx-free COUNT(DISTINCT) —
# hash-even keys, map-side partials.

_QT87_BODY = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_exact,
       CAST(COUNT(DISTINCT md5(lower(text))) AS BIGINT)
           AS distinct_casefold,
       CAST(COUNT(DISTINCT md5(trim(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ')))) AS BIGINT) AS distinct_squashed
FROM documents
"""

_pair("qt87_normalization_ladder", _QT87_BODY, _QT87_BODY)


# --- qt84: tokenizer vocabulary-coverage curve ---------------------------------
#
# The tokenizer-design measurement behind every vocab-size decision:
# what fraction of corpus token OCCURRENCES do the top-K token types
# cover (K = 10/100/1000)? BPE sizing, OOV-rate budgeting, and the
# "how big must the embedding table be" question all read this curve.
# Scale shape: the global top-K is a LIMIT over the aggregated
# frequency table — Spark executes it as per-partition top-K +
# driver merge (TakeOrderedAndProject), NEVER a single-partition
# window over the full vocabulary; the row_number that follows ranks
# only the K-bounded (constant-size) set. Ties break (count DESC,
# token ASC), deterministic in both engines.

_QT84_SPARK = """
WITH words AS (SELECT explode(split(text, ' ')) AS w FROM documents),
freq AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
top AS (SELECT w, c FROM freq ORDER BY c DESC, w ASC LIMIT 1000),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS r FROM top),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM freq),
ks AS (SELECT explode(array(10, 100, 1000)) AS k)
SELECT ks.k AS k,
       CAST(COUNT(*) AS BIGINT) AS n_types_used,
       CAST(SUM(ranked.c) AS BIGINT) AS covered,
       MAX(tot.total) AS total,
       CAST(1000 * SUM(ranked.c) DIV MAX(tot.total) AS BIGINT) AS permille
FROM ks JOIN ranked ON ranked.r <= ks.k CROSS JOIN tot
GROUP BY ks.k
"""

_QT84_DUCK = """
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
freq AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
top AS (SELECT w, c FROM freq ORDER BY c DESC, w ASC LIMIT 1000),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS r FROM top),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM freq),
ks AS (SELECT unnest([10, 100, 1000]) AS k)
SELECT ks.k AS k,
       CAST(COUNT(*) AS BIGINT) AS n_types_used,
       CAST(SUM(ranked.c) AS BIGINT) AS covered,
       MAX(tot.total) AS total,
       CAST(1000 * SUM(ranked.c) // MAX(tot.total) AS BIGINT) AS permille
FROM ks JOIN ranked ON ranked.r <= ks.k CROSS JOIN tot
GROUP BY ks.k
"""

_pair("qt84_vocab_coverage", _QT84_SPARK, _QT84_DUCK)
