"""Training-data text operators over the ``documents`` table.

Covers the large-scale pipeline ops the reference's text/search layer implies
(SURVEY.md §2.9-§2.10) plus the web-corpus curation set: exact dedup,
MinHash+LSH near-dup, SimHash near-dup, n-gram Jaccard, language-ID heuristic,
quality scoring, token counting, and rolling-hash fingerprinting.

All hot-path expressions are JVM-native Column ops (whole-stage codegen); the
only hashes used are md5 (bit-identical in Spark and DuckDB) and exact BIGINT
modular arithmetic, so every query here has a value-exact DuckDB oracle.

Scale notes (100 TB): per-doc ops are embarrassingly parallel map stages;
pair-generation always goes through a bucketing key (md5 of content /
LSH band / SimHash prefix) so the shuffle joins on a bounded-fanout key
instead of a cross join. The O(n²)-per-bucket verify stage touches only
candidate pairs, which is the standard MinHash-LSH contract.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .common import load

# 48-bit md5-prefix hash: exact in BIGINT in both engines, no sign issues.
_HEX_DIGITS = 12
# modulus for the minhash permutation family (prime < 1e15 so a*h+b stays
# well inside signed-64 range: h < 2^48≈2.8e14, a ≤ 2k → a*h+b < 6e17).
_MINHASH_P = 999999999999989
_NUM_PERMS = 16
_BAND_ROWS = 4  # 4 bands × 4 rows


def _tokens(col):
    """Whitespace tokenization — identical regex semantics in both engines."""
    return F.split(F.trim(col), r"\s+")


def _hash48(col):
    """md5-prefix → BIGINT. Deterministic, engine-portable."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_DIGITS), 16, 10).cast("long")


_TOKENS_SQL = "regexp_split_to_array(trim({c}), '\\s+')"
_HASH48_SQL = "(('0x' || substr(md5({c}), 1, 12))::BIGINT)"


# --- per-doc stats ------------------------------------------------------------


def token_stats(spark, sf_dir):
    """Token counting (whitespace tokens + distinct tokens + chars)."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


TOKEN_STATS_SQL = f"""
SELECT doc_id,
       CAST(length(t) AS BIGINT) AS n_tokens,
       CAST(length(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_actual
FROM (SELECT doc_id, text, {_TOKENS_SQL.format(c='text')} AS t FROM documents)
"""


# GPT-2-style pre-tokenizer (ASCII classes only so the Java and RE2 regex
# engines agree byte-for-byte): contractions, space-prefixed letter runs,
# digit runs, punctuation runs, residual whitespace
_BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+"


def token_stats_bpe(spark, sf_dir):
    """BPE-ish token counting: the GPT-2 pre-tokenization split as one
    regexp_extract_all pass, with per-class counts. The realistic
    cost-estimation primitive for training-data pipelines (token budgets),
    complementing the whitespace counts in ``token_stats``."""
    d = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0)

    def n_matching(pat):
        return F.size(F.filter(toks, lambda t: t.rlike(pat))).cast("long")

    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_bpe_tokens"),
        n_matching(r"^ ?[a-zA-Z]+$").alias("n_word_tokens"),
        n_matching(r"^ ?[0-9]+$").alias("n_number_tokens"),
        n_matching(r"^\s+$").alias("n_ws_tokens"),
    )


TOKEN_STATS_BPE_SQL = rf"""
SELECT doc_id,
       CAST(length(t) AS BIGINT) AS n_bpe_tokens,
       CAST(length(list_distinct(t)) AS BIGINT) AS n_distinct_bpe_tokens,
       CAST(length(list_filter(t, x -> regexp_matches(x, '^ ?[a-zA-Z]+$'))) AS BIGINT) AS n_word_tokens,
       CAST(length(list_filter(t, x -> regexp_matches(x, '^ ?[0-9]+$'))) AS BIGINT) AS n_number_tokens,
       CAST(length(list_filter(t, x -> regexp_matches(x, '^\s+$'))) AS BIGINT) AS n_ws_tokens
FROM (SELECT doc_id, regexp_extract_all(text, '{_BPE_PATTERN.replace(chr(39), chr(39) * 2)}') AS t FROM documents)
"""


def quality_score(spark, sf_dir):
    """Quality scoring: mean token length, type/token ratio, stopword ratio,
    and a composite score. All ratios are exact-int divisions → identical
    doubles in both engines."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))).cast("long")
    n_dist = F.size(F.array_distinct(toks)).cast("long")
    n_chars = F.length("text").cast("long")
    mean_tok_len = (n_chars - (n_tok - 1)) / n_tok  # chars minus separators
    ttr = n_dist / n_tok
    stop_ratio = n_stop / n_tok
    return d.select(
        "doc_id",
        "lang",
        mean_tok_len.alias("mean_token_len"),
        ttr.alias("type_token_ratio"),
        stop_ratio.alias("stopword_ratio"),
        ((n_dist / n_tok) * 2.0 + n_stop / n_tok).alias("quality"),
    )


QUALITY_SCORE_SQL = f"""
SELECT doc_id, lang,
       (n_chars - (n_tok - 1)) / n_tok AS mean_token_len,
       n_dist / n_tok AS type_token_ratio,
       n_stop / n_tok AS stopword_ratio,
       (n_dist / n_tok) * 2.0 + n_stop / n_tok AS quality
FROM (
  SELECT doc_id, lang,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(t) AS BIGINT) AS n_tok,
         CAST(length(list_distinct(t)) AS BIGINT) AS n_dist,
         CAST(length(list_filter(t, x -> x IN ('the','a','of','and'))) AS BIGINT) AS n_stop
  FROM (SELECT doc_id, lang, text, {_TOKENS_SQL.format(c='text')} AS t FROM documents)
)
"""


def lang_id(spark, sf_dir):
    """Language-ID heuristic: marker-token hit counts per language, argmax
    with a deterministic tie order (en > es > de > und)."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))

    def hits(*words):
        return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")

    en = hits("the", "a", "of", "and", "is")
    es = hits("el", "la", "de", "que", "los")
    de = hits("der", "die", "das", "und", "ist")
    guess = (
        F.when((en >= es) & (en >= de) & (en > 0), "en")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
    )
    return d.select("doc_id", en.alias("en_hits"), es.alias("es_hits"), de.alias("de_hits"), guess.alias("lang_guess"))


LANG_ID_SQL = f"""
SELECT doc_id, en_hits, es_hits, de_hits,
       CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
            WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
            WHEN de_hits > 0 THEN 'de'
            ELSE 'und' END AS lang_guess
FROM (
  SELECT doc_id,
    CAST(length(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS en_hits,
    CAST(length(list_filter(t, x -> x IN ('el','la','de','que','los'))) AS BIGINT) AS es_hits,
    CAST(length(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS de_hits
  FROM (SELECT doc_id, {_TOKENS_SQL.format(c='text')} AS t FROM documents)
)
"""


def fingerprint(spark, sf_dir):
    """Document fingerprinting: polynomial rolling hash over the first 256
    chars (base 131, mod 1e9+7) — a sequential fold, bit-identical across
    engines. Ref analog: content identity for the URL-seen set."""
    d = load(spark, sf_dir, "documents")
    prefix = F.substring(F.col("text"), 1, 256)
    roll = F.aggregate(
        F.split(prefix, ""),
        F.lit(0).cast("long"),
        lambda h, c: (h * 131 + F.ascii(c)) % 1000000007,
    )
    return d.select("doc_id", roll.alias("fingerprint"))


FINGERPRINT_SQL = """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(substr(text, 1, 256), ''),
                                     c -> CAST(ascii(c) AS BIGINT))),
         (h, x) -> (h * 131 + x) % 1000000007) AS fingerprint
FROM documents
"""


# --- dedup family -------------------------------------------------------------


def exact_dedup(spark, sf_dir):
    """Exact dedup: md5(content) groups, canonical = min(doc_id).
    At 100 TB this is one hash-shuffle on a 128-bit key; the map side
    computes md5 in codegen, AQE coalesces the mostly-size-1 groups."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# --- Gopher-rule quality gate --------------------------------------------------

# The MassiveText quality filter (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", table A1): word-count
# bounds, mean-word-length band, symbol-to-word ratio, and stop-word
# presence. All flags are computed in exact integer arithmetic (the
# mean-word-length band 3..10 is tested as 3n ≤ Σlen ≤ 10n, no division) so
# the oracle is value-exact.
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(spark, sf_dir):
    """Per-document Gopher quality flags + the combined pass/fail gate.

    Returns (doc_id, n_words, sum_word_len, n_stopwords, ok_word_count,
    ok_mean_word_len, ok_symbol_ratio, ok_stop_words, passes_gopher).
    Pure codegen map stage — embarrassingly parallel at any scale.
    """
    d = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n = F.size(toks).cast("long")
    # sequential fold → deterministic; integer-exact
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_sym = F.size(
        F.filter(toks, lambda x: x.isin("#", "...", "…"))
    ).cast("long")
    n_stop = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]))
    ).cast("long")
    ok_wc = (n >= _GOPHER_MIN_WORDS) & (n <= _GOPHER_MAX_WORDS)
    ok_mwl = (sum_len >= 3 * n) & (sum_len <= 10 * n)
    ok_sym = n_sym * 10 <= n  # symbol-to-word ratio ≤ 0.1, integer form
    ok_stop = n_stop >= 2
    return d.select(
        "doc_id",
        n.alias("n_words"),
        sum_len.alias("sum_word_len"),
        n_stop.alias("n_stopwords"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_stop.alias("ok_stop_words"),
        (ok_wc & ok_mwl & ok_sym & ok_stop).alias("passes_gopher"),
    )


GOPHER_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL.format(c='text')} AS toks FROM documents
),
s AS (
  SELECT doc_id,
         CAST(length(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_word_len,
         CAST(length(list_filter(toks, x -> x IN ('#', '...', '…'))) AS BIGINT) AS n_sym,
         CAST(length(list_intersect(list_distinct(toks),
              {list(_GOPHER_STOPWORDS)})) AS BIGINT) AS n_stopwords
  FROM t
)
SELECT doc_id, n_words, sum_word_len, n_stopwords,
       n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS} AS ok_word_count,
       sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words AS ok_mean_word_len,
       n_sym * 10 <= n_words AS ok_symbol_ratio,
       n_stopwords >= 2 AS ok_stop_words,
       (n_words >= {_GOPHER_MIN_WORDS} AND n_words <= {_GOPHER_MAX_WORDS})
         AND (sum_word_len >= 3 * n_words AND sum_word_len <= 10 * n_words)
         AND (n_sym * 10 <= n_words) AND (n_stopwords >= 2) AS passes_gopher
FROM s
"""


# --- paragraph-level (chunk) dedup --------------------------------------------

# CCNet / C4 dedup at sub-document granularity: the corpus is deduplicated at
# the paragraph level, keeping the FIRST occurrence in corpus order and
# rewriting each document without its duplicated spans. The testdata corpus
# has no newline paragraph marks, so the "paragraph" unit is a fixed window
# of 16 whitespace tokens — the same shape, deterministic on both engines.
_PARA_TOKENS = 16


def paragraph_dedup(spark, sf_dir):
    """Corpus-wide first-wins paragraph dedup with document reassembly.

    Returns (doc_id, clean_text, n_chunks, n_kept). First occurrence is by
    (doc_id, chunk_idx) — total corpus order, partition-independent.

    Scale notes: one shuffle keyed on the chunk hash (bounded fanout — a
    128-bit key), one groupBy(doc_id) to reassemble. The within-group sort
    for reassembly is array_sort over a document's own chunks (bounded by
    document length), never a global sort.
    """
    d = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_chunks = F.ceil(F.size(toks) / F.lit(_PARA_TOKENS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * _PARA_TOKENS + 1, _PARA_TOKENS), " "
        ),
    )
    ex = d.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
    ex = ex.withColumn("kept", F.row_number().over(w) == 1)
    return ex.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "kept", "chunk"))
                    ),
                    lambda s: s["kept"],
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
    )


PARAGRAPH_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id, u.tok AS tok, u.ord AS ord
  FROM (
    SELECT doc_id,
           unnest(list_transform({_TOKENS_SQL.format(c='text')},
                                 (x, i) -> struct_pack(tok := x, ord := i))) AS u
    FROM documents
  )
),
chunks AS (
  SELECT doc_id,
         CAST((ord - 1) // {_PARA_TOKENS} AS INT) AS chunk_idx,
         string_agg(tok, ' ' ORDER BY ord) AS chunk
  FROM toks GROUP BY doc_id, (ord - 1) // {_PARA_TOKENS}
),
flagged AS (
  SELECT doc_id, chunk_idx, chunk,
         ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                            ORDER BY doc_id, chunk_idx) = 1 AS kept
  FROM chunks
)
SELECT doc_id,
       COALESCE(string_agg(chunk, ' ' ORDER BY chunk_idx)
                FILTER (WHERE kept), '') AS clean_text,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM flagged GROUP BY doc_id
"""


# span length for ExactSubstr-style repeated-window statistics. Lee et al.
# use 50 BPE tokens on web corpora; 10 whitespace tokens matches the
# synthetic documents' length scale while keeping the same semantics.
_SPAN_TOKENS = 10


def repeated_span_stats(spark, sf_dir):
    """ExactSubstr-style repeated-span statistics (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better").

    Every ``_SPAN_TOKENS``-token window of every document is hashed; a span
    is duplicated if its hash occurs anywhere else in the corpus (any
    document, including the same one — the paper's definition). Returns
    per-doc (doc_id, n_spans, n_dup_spans, dup_span_fraction): the
    contamination measure production pipelines threshold before training,
    complementing ``paragraph_dedup`` (which removes aligned chunks) by
    catching duplication at ARBITRARY offsets.

    Scale notes (100 TB): windows explode map-side into (doc_id, h) rows —
    the 48-bit hash is computed inside the projection, so the shuffle moves
    ~16-byte rows, never the span strings. One hash-shuffle on h (the
    corpus-wide occurrence count), one on doc_id (the rollup); both
    equi-key, no global sort, no pair materialization. A rolling
    Rabin-Karp hash would cut map-side CPU from O(K·n) to O(n) per doc;
    the md5 window hash is kept because the DuckDB oracle must be
    value-identical. Docs shorter than the span emit zero windows and
    surface with n_spans = 0 / NULL fraction.
    """
    d = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n = F.size(toks)
    # guard short docs explicitly: F.sequence(1, stop) with stop < 1 would
    # generate a DESCENDING sequence, not an empty one
    idx = F.when(
        n >= F.lit(_SPAN_TOKENS), F.sequence(F.lit(1), n - (_SPAN_TOKENS - 1))
    ).otherwise(F.array().cast("array<int>"))
    spans = F.transform(
        idx, lambda i: _hash48(F.array_join(F.slice(toks, i, _SPAN_TOKENS), " "))
    )
    ex = d.select("doc_id", F.explode(spans).alias("h"))
    dup = (F.count(F.lit(1)).over(Window.partitionBy("h")) > 1).cast("long")
    per = (
        ex.withColumn("dup", dup)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("dup").alias("n_dup_spans"),
        )
    )
    return d.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.when(
            F.coalesce("n_spans", F.lit(0)) > 0,
            F.col("n_dup_spans") / F.col("n_spans"),
        ).alias("dup_span_fraction"),
    )


REPEATED_SPAN_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL.format(c='text')} AS toks FROM documents
),
pos AS (
  SELECT doc_id,
         {_HASH48_SQL.format(c=f"array_to_string(toks[i:i+{_SPAN_TOKENS - 1}], ' ')")} AS h
  FROM t, UNNEST(generate_series(1, greatest(length(toks) - {_SPAN_TOKENS - 1}, 0))) AS s(i)
),
c AS (SELECT h, count(*) AS cnt FROM pos GROUP BY h),
perdoc AS (
  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
  FROM pos p JOIN c USING (h) GROUP BY p.doc_id
)
SELECT d.doc_id, COALESCE(s.n_spans, 0) AS n_spans,
       COALESCE(s.n_dup_spans, 0) AS n_dup_spans,
       CASE WHEN COALESCE(s.n_spans, 0) > 0 THEN s.n_dup_spans / s.n_spans
            END AS dup_span_fraction
FROM documents d LEFT JOIN perdoc s USING (doc_id)
"""


def _shingles(col, k=3):
    """Distinct word k-shingles as strings (1-based element_at)."""
    toks = _tokens(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(k)]
        ),
    )
    return F.array_distinct(sh)


_SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, greatest(length(t) - 1, 1)), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
)


def ngram_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup: 3-word shingles, pairs with J ≥ 0.8.

    Candidates come from the MinHash-LSH band buckets (``_lsh_candidates``)
    — an equi-join on the band key, never a group-bounded self-join — and
    only candidate pairs pay the exact shingle-set Jaccard verify. This is
    the 100 TB shape: candidate volume is bounded by bucket sizes, and the
    verify join touches O(candidates) rows. Recall is the LSH contract
    (a J ≥ 0.8 pair agrees on a whole 4-row band with prob ≥ 1-(1-0.8⁴)⁴
    ≈ 0.92; raise bands/perms to tighten); the DuckDB oracle replicates the
    identical band semantics so the gate is exact."""
    sh = load(spark, sf_dir, "documents").select(
        "doc_id", _shingles(F.col("text")).alias("sh")
    )
    cand = _lsh_candidates(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("long")
    union = (F.size("sh_a") + F.size("sh_b")).cast("long") - inter
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= 0.8)
    )


NGRAM_JACCARD_SQL_TEMPLATE = """
WITH sig AS (
  SELECT doc_id, s.perm AS perm, s.minhash AS minhash FROM ({sig_inner})
),
bands AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.perm // {band_rows} AS band,
         SUM(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS n_match
  FROM sig a JOIN sig b ON a.perm = b.perm AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM bands WHERE n_match = {band_rows}
),
sh AS (
  SELECT doc_id, {shingles} AS sh
  FROM (SELECT doc_id, {tokens} AS t FROM documents)
)
SELECT c.doc_a, c.doc_b,
       CAST(length(list_intersect(a.sh, b.sh)) AS BIGINT)
         / (CAST(length(a.sh) + length(b.sh) AS BIGINT) - length(list_intersect(a.sh, b.sh))) AS jaccard
FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
WHERE CAST(length(list_intersect(a.sh, b.sh)) AS BIGINT)
      / (CAST(length(a.sh) + length(b.sh) AS BIGINT) - length(list_intersect(a.sh, b.sh))) >= 0.8
"""


def _minhash_perm_cols():
    """Deterministic permutation family h_i(x) = (a_i·x + b_i) mod p."""
    return [(2 * i + 1, 12289 * i + 1) for i in range(_NUM_PERMS)]


def minhash_signatures(spark, sf_dir):
    """MinHash signatures as (doc_id, perm, minhash) rows.

    Plan shape matters at scale: shingles are EXPLODED and hashed ONCE, then
    one hash aggregation computes all 16 permutation minima with map-side
    partial agg — md5 runs once per shingle instead of once per (perm ×
    plan-branch), and the shuffle carries only (doc_id, 16 longs)."""
    d = load(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(_shingles(F.col("text"))).alias("s")).select(
        "doc_id", _hash48(F.col("s")).alias("h")
    )
    aggs = [
        F.min((F.col("h") * a + b) % _MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(_minhash_perm_cols())
    ]
    wide = sh.groupBy("doc_id").agg(*aggs)
    stack = ", ".join(f"CAST({i} AS BIGINT), mh{i}" for i in range(_NUM_PERMS))
    return wide.select(
        "doc_id",
        F.expr(f"stack({_NUM_PERMS}, {stack}) AS (perm, minhash)"),
    ).select("doc_id", "perm", "minhash")


def _minhash_sig_sql_inner():
    structs = ", ".join(
        "{'perm': CAST(%d AS BIGINT), "
        "'minhash': list_min(list_transform(hs, h -> (h * %d + %d) %% %d))}" % (i, a, b, _MINHASH_P)
        for i, (a, b) in enumerate(_minhash_perm_cols())
    )
    return f"""
  SELECT doc_id, unnest([{structs}], recursive := false) AS s
  FROM (
    SELECT doc_id, list_transform(sh, s -> {_HASH48_SQL.format(c='s')}) AS hs
    FROM (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM (SELECT doc_id, {_TOKENS_SQL.format(c='text')} AS t FROM documents)
    )
  )
"""


MINHASH_SIGNATURES_SQL = f"""
SELECT doc_id, s.perm AS perm, s.minhash AS minhash FROM ({_minhash_sig_sql_inner()})
"""


def _lsh_candidates_from_sig(sig):
    """Band the 16-perm signature into 4 bands of 4 rows and bucket-join on
    (band, md5(band values)) → distinct (doc_a, doc_b) candidate pairs.
    The shared candidate generator for every near-dup verify stage —
    always an equi-join on the band key, never a group-bounded self-join."""
    bands = (
        sig.withColumn("band", (F.col("perm") / _BAND_ROWS).cast("long"))
        .groupBy("doc_id", "band")
        .agg(F.sort_array(F.collect_list(F.struct("perm", "minhash"))).alias("rows"))
        .select(
            "doc_id",
            "band",
            F.md5(F.to_json(F.col("rows"))).alias("band_key"),
        )
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _lsh_candidates(spark, sf_dir):
    """Candidate pairs over the documents table (signature pinned once)."""
    sig = minhash_signatures(spark, sf_dir).localCheckpoint(eager=True)
    return _lsh_candidates_from_sig(sig)


def minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup: band the 16-perm signature into 4 bands of 4
    rows, bucket-join on (band, md5(band values)), verify candidates with
    estimated Jaccard = matching perms / 16 ≥ 0.5.

    This is the 100 TB dedup path: candidate generation is an equi-join on
    the band key (shuffle bounded by bucket sizes), never a cross join.
    """
    # the signature feeds three plan branches (bands + both join sides) —
    # pin it so Spark computes it once
    sig = minhash_signatures(spark, sf_dir).localCheckpoint(eager=True)
    cand = _lsh_candidates_from_sig(sig)
    sa = sig.select(F.col("doc_id").alias("doc_a"), "perm", F.col("minhash").alias("mh_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), "perm", F.col("minhash").alias("mh_b"))
    est = (
        cand.join(sa, "doc_a").join(sb, ["doc_b", "perm"])
        .groupBy("doc_a", "doc_b")
        .agg((F.sum(F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0)) / F.lit(_NUM_PERMS)).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= 0.5)
    )
    return est


NGRAM_JACCARD_SQL = NGRAM_JACCARD_SQL_TEMPLATE.format(
    sig_inner=_minhash_sig_sql_inner(),
    band_rows=_BAND_ROWS,
    shingles=_SHINGLES_SQL,
    tokens=_TOKENS_SQL.format(c="text"),
)


# Oracle avoids the band-key hashing (json formatting differs across engines):
# candidates = pairs agreeing on ALL perms of at least one band — identical
# semantics to equality of the band's (perm, minhash) list.
MINHASH_LSH_PAIRS_SQL = f"""
WITH sig AS (
  SELECT doc_id, s.perm AS perm, s.minhash AS minhash FROM ({_minhash_sig_sql_inner()})
),
bands AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.perm // {_BAND_ROWS} AS band,
         SUM(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS n_match
  FROM sig a JOIN sig b ON a.perm = b.perm AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM bands WHERE n_match = {_BAND_ROWS}
)
SELECT c.doc_a, c.doc_b,
       CAST(SUM(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS BIGINT) / {_NUM_PERMS}.0 AS est_jaccard
FROM cand c
JOIN sig a ON a.doc_id = c.doc_a
JOIN sig b ON b.doc_id = c.doc_b AND b.perm = a.perm
GROUP BY c.doc_a, c.doc_b
HAVING CAST(SUM(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS BIGINT) / {_NUM_PERMS}.0 >= 0.5
"""


def simhash(spark, sf_dir):
    """48-bit SimHash per document: per-bit majority vote over token hash48
    bits, assembled into one BIGINT. Native transform/aggregate — stays in
    codegen.

    Plan shape: ONE fold over the token hashes carrying a 48-element vote
    array (zip_with per step), not 48 independent folds — same arithmetic,
    one pass over the array instead of 48 (measured 9×: 9.4 s → 0.9 s at
    sf0.1 on 32 cores; results bit-identical). bit_get takes a Column
    position; 2^j via pow() is exact for j ≤ 47."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", simhash_expr(F.col("text")).alias("simhash"))


def simhash_expr(text_col):
    """The 48-bit SimHash as a reusable Column expression over any text
    column — the registry's ``simhash`` query and the streaming page ingest
    (``streaming.jobs.streaming_page_ingest``) share it."""
    toks = F.array_distinct(_tokens(text_col))
    hashes = F.transform(toks, lambda t: _hash48(t))
    seq48 = F.sequence(F.lit(0), F.lit(47))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 48),
        lambda acc, h: F.zip_with(
            acc, seq48, lambda a, j: a + (F.bit_get(h, j).cast("long") * 2 - 1)
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            seq48,
            lambda v, j: F.when(v > 0, F.pow(F.lit(2.0), j).cast("long")).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


SIMHASH_SQL = f"""
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(range(0, 48), j ->
           CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0
                THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
         (acc, x) -> acc + x) AS simhash
FROM (
  SELECT doc_id, list_transform(list_distinct(t), s -> {_HASH48_SQL.format(c='s')}) AS hs
  FROM (SELECT doc_id, {_TOKENS_SQL.format(c='text')} AS t FROM documents)
)
"""


# Exact pigeonhole over the 48-bit signature, block-and-flip form: split
# into 4 super-blocks of 12 bits — ≤ 6 differing bits over 4 blocks means
# SOME block differs by ≤ 1 bit (pigeonhole) — so the probe side emits each
# block's value plus its 12 single-bit flips, and the build side emits the
# value alone. Recall is 100% for the ≤ 6 threshold (no probabilistic miss).
#
# Why not 7 exact-match blocks (≤ 6 diffs ⇒ one block EQUAL)? 48/7 ≈ 7-bit
# keys give only 128 buckets per block — a disguised quadratic for uniform
# signatures (join work ∝ 7·n²/128). The 12-bit blocks give 4096 buckets
# and 13 probe keys: ∝ 52·n²/4096, ~17× less shuffle-join work, with the
# same exactness. (The brute-force equivalence test pins the recall.)
_SIMHASH_MAX_HAMMING = 6
_SIMHASH_BLOCK_BITS = 12
_SIMHASH_BLOCKS = [(0, 12), (12, 12), (24, 12), (36, 12)]


def _sim_block_val(off):
    return F.shiftright(F.col("simhash"), off).bitwiseAND(
        F.lit((1 << _SIMHASH_BLOCK_BITS) - 1)
    )


_SIM_BUILD_KEYS = lambda: F.array(  # noqa: E731 — column factory, not a def
    *[
        F.struct(F.lit(i).alias("block_id"), _sim_block_val(off).alias("block_key"))
        for i, (off, _ln) in enumerate(_SIMHASH_BLOCKS)
    ]
)

_SIM_PROBE_KEYS = lambda: F.array(  # noqa: E731
    *[
        F.struct(
            F.lit(i).alias("block_id"),
            _sim_block_val(off).bitwiseXOR(F.lit(flip)).alias("block_key"),
        )
        for i, (off, _ln) in enumerate(_SIMHASH_BLOCKS)
        for flip in [0] + [1 << j for j in range(_SIMHASH_BLOCK_BITS)]
    ]
)


def _sim_keyed(sig, id_col, arr):
    return sig.select(id_col, "simhash", F.explode(arr).alias("b")).select(
        id_col,
        "simhash",
        F.col("b.block_id").alias("block_id"),
        F.col("b.block_key").alias("block_key"),
    )


def simhash_pairs_from_signatures(sig):
    """(doc_id, simhash) → near-dup pairs with Hamming ≤ 6, exact recall."""
    a = _sim_keyed(sig, "doc_id", _SIM_PROBE_KEYS()).alias("a")
    b = _sim_keyed(sig, "doc_id", _SIM_BUILD_KEYS()).alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .distinct()  # a pair can match in several (block, flip) keys
    )


def simhash_pairs_between(new_sig, index_sig, id_col="doc_id"):
    """Asymmetric near-dup join: each NEW signature against a HISTORICAL
    index (disjoint id spaces, so no `<` ordering guard). Only the new —
    i.e. small — side explodes the 52 probe keys; the index side keeps its
    4 build keys: the dedup-before-store shape of an incremental crawl,
    where the per-round batch probes a crawl-lifetime index. Returns
    (new_id, index_id, hamming), Hamming ≤ 6, exact recall (pigeonhole)."""
    a = _sim_keyed(new_sig, id_col, _SIM_PROBE_KEYS()).alias("a")
    b = _sim_keyed(index_sig, id_col, _SIM_BUILD_KEYS()).alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_key") == F.col("b.block_key")),
        )
        .select(
            F.col(f"a.{id_col}").alias("new_id"),
            F.col(f"b.{id_col}").alias("index_id"),
            ham.cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= _SIMHASH_MAX_HAMMING)
        .distinct()
    )


def incremental_simhash_dedup(spark, sf_dir):
    """Document-level incremental dedup (VERDICT r3 item 7), as a query:
    the corpus splits into a historical index (doc_id % 3 ≠ 0) and a new
    batch (doc_id % 3 = 0) — the round-N-vs-prior-rounds shape — and every
    new doc within Hamming ≤ 6 of an indexed doc is reported with its best
    (lowest-Hamming, then lowest-id) match. An incremental crawl's
    dedup-before-store step is this join, with fetched page text on the
    batch side."""
    sig = simhash(spark, sf_dir).localCheckpoint(eager=True)
    new = sig.where(F.col("doc_id") % 3 == 0)
    hist = sig.where(F.col("doc_id") % 3 != 0)
    pairs = simhash_pairs_between(new, hist)
    pick = Window.partitionBy("new_id").orderBy(F.asc("hamming"), F.asc("index_id"))
    return (
        pairs.withColumn("_rn", F.row_number().over(pick))
        .where(F.col("_rn") == 1)
        .select(
            F.col("new_id").alias("doc_id"),
            F.col("index_id").alias("dup_of"),
            "hamming",
        )
    )




def simhash_dup_pairs(spark, sf_dir):
    """SimHash near-dup: pairs with Hamming distance ≤ 6 over the 48-bit
    signature, via the exact block-and-flip pigeonhole candidate scheme.

    The signature feeds BOTH sides of the block-key self-join — pinned so
    the 48-bit vote fold runs once per document, not once per side."""
    return simhash_pairs_from_signatures(
        simhash(spark, sf_dir).localCheckpoint(eager=True)
    )


_SIMHASH_BLOCKS_SQL = ", ".join(f"({i}, {off})" for i, (off, _ln) in enumerate(_SIMHASH_BLOCKS))

SIMHASH_DUP_SQL = f"""
WITH sh AS ({SIMHASH_SQL.strip()}),
base AS (
  SELECT doc_id, simhash, b.block_id,
         (simhash >> b.off) & {(1 << _SIMHASH_BLOCK_BITS) - 1} AS block_key
  FROM sh, (VALUES {_SIMHASH_BLOCKS_SQL}) AS b(block_id, off)
),
probe AS (
  SELECT doc_id, simhash, block_id, xor(block_key, f.flip) AS block_key
  FROM base, (SELECT unnest([0] || list_transform(range(0, {_SIMHASH_BLOCK_BITS}),
                                                  j -> CAST(1 AS BIGINT) << j)) AS flip) f
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM probe a
JOIN base b
  ON a.block_id = b.block_id AND a.block_key = b.block_key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
"""


INCREMENTAL_SIMHASH_DEDUP_SQL = f"""
WITH sh AS ({SIMHASH_SQL.strip()}),
base AS (
  SELECT doc_id, simhash, b.block_id,
         (simhash >> b.off) & {(1 << _SIMHASH_BLOCK_BITS) - 1} AS block_key
  FROM (SELECT * FROM sh WHERE doc_id % 3 <> 0),
       (VALUES {_SIMHASH_BLOCKS_SQL}) AS b(block_id, off)
),
probe AS (
  SELECT doc_id, simhash, block_id, xor(block_key, f.flip) AS block_key
  FROM (
    SELECT doc_id, simhash, b.block_id,
           (simhash >> b.off) & {(1 << _SIMHASH_BLOCK_BITS) - 1} AS block_key
    FROM (SELECT * FROM sh WHERE doc_id % 3 = 0),
         (VALUES {_SIMHASH_BLOCKS_SQL}) AS b(block_id, off)
  ), (SELECT unnest([0] || list_transform(range(0, {_SIMHASH_BLOCK_BITS}),
                                          j -> CAST(1 AS BIGINT) << j)) AS flip) f
),
pairs AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM probe a JOIN base b
    ON a.block_id = b.block_id AND a.block_key = b.block_key
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
)
SELECT new_id AS doc_id, index_id AS dup_of, hamming FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id
                               ORDER BY hamming ASC, index_id ASC) AS rn
  FROM pairs
) WHERE rn = 1
"""


# --- domain-level curation -----------------------------------------------------

# C4-style (Raffel et al. 2020 §2.2) deterministic blocklists: domains dropped
# wholesale, plus a bad-word term filter with a per-doc occurrence threshold.
# On a real corpus these come from UT1/badwords lists; here they are fixed
# in-query constants so the op (and its oracle) is self-contained.
_BLOCKED_SOURCES = ("src2", "src7", "src13")
_BAD_WORDS = ("slow", "dup")
_BAD_WORD_MAX = 3  # > this many occurrences → filtered


def blocklist_filter(spark, sf_dir):
    """C4-style blocklist gate: per-doc verdict with the *reason* columns a
    curation audit needs (blocked_source, n_bad_words, keep). 100 TB shape:
    pure codegen map stage — the source set and term list are literals folded
    into the plan (a production run broadcasts them); no shuffle at all."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_bad = F.size(F.filter(toks, lambda t: t.isin(*_BAD_WORDS))).cast("long")
    blocked_src = F.col("source").isin(*_BLOCKED_SOURCES)
    return d.select(
        "doc_id",
        "source",
        blocked_src.alias("blocked_source"),
        n_bad.alias("n_bad_words"),
        (~blocked_src & (n_bad <= F.lit(_BAD_WORD_MAX))).alias("keep"),
    )


_BLOCKED_SRC_SQL = ", ".join(f"'{s}'" for s in _BLOCKED_SOURCES)
_BAD_WORDS_SQL = ", ".join(f"'{w}'" for w in _BAD_WORDS)

BLOCKLIST_FILTER_SQL = f"""
SELECT doc_id, source,
       source IN ({_BLOCKED_SRC_SQL}) AS blocked_source,
       n_bad_words,
       (source NOT IN ({_BLOCKED_SRC_SQL}) AND n_bad_words <= {_BAD_WORD_MAX}) AS keep
FROM (
  SELECT doc_id, source,
         CAST(length(list_filter({_TOKENS_SQL.format(c='text')},
                                 x -> x IN ({_BAD_WORDS_SQL}))) AS BIGINT) AS n_bad_words
  FROM documents
)
"""


def domain_stats(spark, sf_dir):
    """Per-domain curation rollup (the FineWeb/RefinedWeb domain table):
    doc/duplicate counts plus domain-level quality ratios. Float discipline:
    only exact BIGINT sums cross the aggregation (token/distinct/stopword
    counts), and the ratios are emitted as MICRO-UNIT BIGINTs (ratio * 1e6,
    integer division) — the same ``_cents`` / ``quality_sum_micro`` discipline
    as every other gated query, so no double ever crosses the oracle boundary
    and Spark/DuckDB agree exactly regardless of either engine's float
    formatting or reduction order.
    100 TB shape: one hash-shuffle on ``source`` with map-side partial
    aggregation; domains are ~10^7 keys, far below the doc count, and skewed
    mega-domains are exactly what AQE skew-split handles."""
    d = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    per_doc = d.select(
        "source",
        F.md5(F.col("text")).alias("h"),
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_dist"),
        F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and")))
        .cast("long")
        .alias("n_stop"),
        F.length("text").cast("long").alias("n_chars"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique_texts"),
        F.sum("n_tok").alias("sum_tokens"),
        F.sum("n_dist").alias("sum_distinct"),
        F.sum("n_stop").alias("sum_stopwords"),
        F.sum("n_chars").alias("sum_chars"),
    )
    dup_micro = F.expr("(1000000 * (n_docs - n_unique_texts)) div n_docs")
    ttr_micro = F.expr("(1000000 * sum_distinct) div nullif(sum_tokens, 0)")
    stop_micro = F.expr("(1000000 * sum_stopwords) div nullif(sum_tokens, 0)")
    return agg.select(
        "source",
        "n_docs",
        "n_unique_texts",
        "sum_tokens",
        "sum_chars",
        dup_micro.alias("dup_ratio_micro"),
        ttr_micro.alias("domain_ttr_micro"),
        stop_micro.alias("domain_stop_ratio_micro"),
        (ttr_micro * F.lit(2) + stop_micro).alias("domain_quality_micro"),
    )


DOMAIN_STATS_SQL = f"""
SELECT source, n_docs, n_unique_texts, sum_tokens, sum_chars,
       (1000000 * (n_docs - n_unique_texts)) // n_docs AS dup_ratio_micro,
       (1000000 * sum_distinct) // NULLIF(sum_tokens, 0) AS domain_ttr_micro,
       (1000000 * sum_stopwords) // NULLIF(sum_tokens, 0) AS domain_stop_ratio_micro,
       ((1000000 * sum_distinct) // NULLIF(sum_tokens, 0)) * 2
         + (1000000 * sum_stopwords) // NULLIF(sum_tokens, 0) AS domain_quality_micro
FROM (
  SELECT source,
         COUNT(*) AS n_docs,
         COUNT(DISTINCT h) AS n_unique_texts,
         SUM(n_tok) AS sum_tokens,
         SUM(n_dist) AS sum_distinct,
         SUM(n_stop) AS sum_stopwords,
         SUM(n_chars) AS sum_chars
  FROM (
    SELECT source, md5(text) AS h,
           CAST(length(t) AS BIGINT) AS n_tok,
           CAST(length(list_distinct(t)) AS BIGINT) AS n_dist,
           CAST(length(list_filter(t, x -> x IN ('the','a','of','and'))) AS BIGINT) AS n_stop,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM (SELECT source, text, {_TOKENS_SQL.format(c='text')} AS t FROM documents)
  )
  GROUP BY source
)
"""


# --- corpus mixing / deterministic sampling -----------------------------------

# Per-domain sampling rates in permille (the training-mix weights step —
# DoReMi/Pile-style source reweighting executed as a filter). Hash-bucket
# sampling keeps the op deterministic, stateless, and exactly reproducible on
# any cluster size: a doc's fate depends only on its id, never on partition
# layout or RNG state.
_MIX_RATES_PERMILLE = {"src0": 1000, "src1": 900, "src2": 0, "src3": 250}
_MIX_DEFAULT_PERMILLE = 500


def corpus_mix_sample(spark, sf_dir):
    """Deterministic domain-weighted sampling: keep a doc iff its 48-bit
    md5 hash bucket (mod 1000) falls under its source's permille rate.
    100 TB shape: pure codegen map stage, no shuffle, no RNG; downsampling a
    source to r‰ reads as `bucket < r` so re-runs and resumes pick the SAME
    subset (idempotent sampling is what makes mix experiments comparable)."""
    d = load(spark, sf_dir, "documents")
    rate = F.lit(_MIX_DEFAULT_PERMILLE)
    for src, r in sorted(_MIX_RATES_PERMILLE.items()):
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    bucket = F.pmod(_hash48(F.col("doc_id").cast("string")), F.lit(1000))
    return d.select(
        "doc_id",
        "source",
        bucket.cast("long").alias("bucket"),
        rate.cast("long").alias("rate_permille"),
        (bucket < rate).alias("sampled"),
    )


_MIX_CASE_SQL = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {r}" for s, r in sorted(_MIX_RATES_PERMILLE.items())
) + f" ELSE {_MIX_DEFAULT_PERMILLE} END"

CORPUS_MIX_SAMPLE_SQL = f"""
SELECT doc_id, source, bucket, rate_permille, bucket < rate_permille AS sampled
FROM (
  SELECT doc_id, source,
         {_HASH48_SQL.format(c='CAST(doc_id AS VARCHAR)')} % 1000 AS bucket,
         CAST({_MIX_CASE_SQL} AS BIGINT) AS rate_permille
  FROM documents
)
"""


QUERIES = {
    "token_stats": (token_stats, TOKEN_STATS_SQL),
    "token_stats_bpe": (token_stats_bpe, TOKEN_STATS_BPE_SQL),
    "quality_score": (quality_score, QUALITY_SCORE_SQL),
    "gopher_quality": (gopher_quality, GOPHER_QUALITY_SQL),
    "lang_id": (lang_id, LANG_ID_SQL),
    "fingerprint": (fingerprint, FINGERPRINT_SQL),
    "exact_dedup": (exact_dedup, EXACT_DEDUP_SQL),
    "paragraph_dedup": (paragraph_dedup, PARAGRAPH_DEDUP_SQL),
    "repeated_span_stats": (repeated_span_stats, REPEATED_SPAN_SQL),
    "ngram_jaccard_pairs": (ngram_jaccard_pairs, NGRAM_JACCARD_SQL),
    "minhash_signatures": (minhash_signatures, MINHASH_SIGNATURES_SQL),
    "minhash_lsh_pairs": (minhash_lsh_pairs, MINHASH_LSH_PAIRS_SQL),
    "simhash": (simhash, SIMHASH_SQL),
    "simhash_dup_pairs": (simhash_dup_pairs, SIMHASH_DUP_SQL),
    "incremental_simhash_dedup": (incremental_simhash_dedup, INCREMENTAL_SIMHASH_DEDUP_SQL),
    "blocklist_filter": (blocklist_filter, BLOCKLIST_FILTER_SQL),
    "domain_stats": (domain_stats, DOMAIN_STATS_SQL),
    "corpus_mix_sample": (corpus_mix_sample, CORPUS_MIX_SAMPLE_SQL),
}
