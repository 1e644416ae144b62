"""Driver-contract queries and their DuckDB oracles.

Each query is declared once, in the _REGISTRY table at the bottom, as
(name, Spark builder, oracle): the builder is a callable
(spark, sf_dir) -> DataFrame and the oracle is SQL that DuckDB runs over
the same parquet tables (or over a frozen parquet of the in-process
engine's output), so every entry carries an oracle.  QUERIES and ORACLES
are views of that table.  Column names/aliases match exactly (the
driver's compare sorts columns by name and hashes values).  No query
keeps state in the session beyond the five TABLES views: intermediate
frames are bound as ``spark.sql`` arguments, never as named temp views.

Design notes for hash-stable oracles:
- Money is aggregated in integer cents via FLOOR(x*100 + 0.5) — identical
  in both engines (no ROUND-mode mismatch), exact integer sums.
- Hash-based ops use md5 hex strings (identical in both engines) rather
  than engine-specific hash functions.
- ANN top-k outputs integer (vec_id, rank) only — no floats in compared
  values.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F

from ..html5x.css import compile_selector
from ..html5x.extract import (
    SELECTOR_POLICY_WITH_H2 as _SELECTOR_POLICY,
    _utf8_safe,
    block_features,
    main_text_selector,
)
from ..html5x.xpath import xpath, xpath_float, xpath_string
from . import io as tableio
from .extract_job import dom_map, run_extract
from .pages import n_pages_for_sf, pages_parquet
from .warcio import (
    PAGES_DDL,
    WARC_INFO,
    WAT_INFO,
    _record_batches,
    _response_record,
    _wat_record,
    parse_warc,
    read_wat_metadata,
    segment_batches,
)

TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


# Tables whose queries do heavy per-row expression work map-side (the
# minhash/ngram/simhash/unigram families over `documents`): these get
# the adaptive spread.  The relational facts (lineitem/orders)
# aggregate or join straight off the scan with cheap expressions, where
# an extra exchange only adds cost; the events queries shuffle by
# user_id immediately anyway; the `embeddings` queries are map-heavy
# cosine scans that were already sub-0.3 s without it.
_SPREAD_TABLES = ("documents",)


# The one scan memo: spark.read.parquet costs a schema/footer read +
# file listing per call (five fresh reads: 0.50 s median at sf0.01,
# local[4] on 4 cores), which every query invocation would pay.  It
# holds lazy DataFrame definitions keyed by (session, source, spread) —
# planning objects only; no rows are ever cached (the scan re-reads the
# files on every action).
_SCANS: dict = {}


def _scan(spark, source: str, spread: bool = False) -> DataFrame:
    """Memoized lazy scan of ``source``; ``spread`` adds the adaptive
    scan spread (io.spread_small_scan)."""
    key = (spark, source, spread)
    df = _SCANS.get(key)
    if df is None:
        df = tableio.read_table(spark, source)
        if spread:
            df = tableio.spread_small_scan(spark, df)
        _SCANS[key] = df
    return df


def load_views(spark, sf_dir: str) -> None:
    """Register the sf TABLES the queries read (the driver contract's
    names) as temp views over the memoized scans.  Re-registered on
    every call (54 ms median at sf0.01, local[4] on 4 cores), so a view
    a caller registered under one of these names can never leak into a
    query."""
    for t in TABLES:
        _scan(spark, f"{sf_dir}/{t}.parquet",
              t in _SPREAD_TABLES).createOrReplaceTempView(t)


def _sql(query: str):
    def fn(spark, sf_dir: str) -> DataFrame:
        load_views(spark, sf_dir)
        return spark.sql(query)

    return fn


def _dual(sql_for):
    """(Spark builder, oracle) from one dialect-parameterized text:
    ``sql_for("spark")`` runs over the views, ``sql_for("duck")`` is the
    DuckDB oracle."""
    return _sql(sql_for("spark")), sql_for("duck")


# --------------------------- relational core ------------------------------

_PRICING_SUMMARY_SPARK = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_base_price_cents,
       CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100 + 0.5)
                     AS BIGINT)) AS BIGINT)
           AS sum_disc_price_cents,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

_TOP_REVENUE_SPARK = """
SELECT o_orderkey,
       CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100 + 0.5)
                     AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey
ORDER BY revenue_cents DESC, o_orderkey
LIMIT 10
"""


def _docs_sample_sql(dialect: str) -> str:
    """Deterministic stratified sampling — the reproducible-curation
    primitive every training-data pipeline needs: per-language keep
    rates (downsample the dominant language, keep the rest denser)
    decided by a pure hash of the doc id, so the same corpus always
    yields the same sample on any engine, any partitioning, any run.
    Map-side filter; no randomness, no state.  The hash bucket is the
    md5 prefix of the id decoded to an integer (conv() on Spark, digit
    expansion in the DuckDB oracle — the minhash family's dual
    derivation)."""
    if dialect == "spark":
        bucket = ("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4),"
                  " 16, 10) AS BIGINT) % 100")
    else:
        digits = " + ".join(
            "(CAST(instr('0123456789abcdef',"
            f" substr(md5(CAST(doc_id AS VARCHAR)), {i + 1}, 1))"
            f" AS BIGINT) - 1) * {16 ** (3 - i)}"
            for i in range(4)
        )
        bucket = f"({digits}) % 100"
    return f"""
SELECT doc_id, lang, CAST({bucket} AS BIGINT) AS sample_bucket
FROM documents
WHERE {bucket} < CASE lang WHEN 'en' THEN 25 ELSE 60 END
ORDER BY doc_id
"""


_LATEST_EVENT_PER_USER = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
FROM (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t
WHERE rn = 1
ORDER BY user_id
"""


# ------------------------ training-data ops ------------------------------

_DOCS_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY content_hash
"""

_DOCS_TOKEN_STATS_SPARK = """
SELECT doc_id, length(text) AS n_chars_obs,
       size(regexp_extract_all(text, '\\\\S+', 0)) AS n_tokens
FROM documents
ORDER BY doc_id
"""

_DOCS_TOKEN_STATS_DUCK = r"""
SELECT doc_id, length(text) AS n_chars_obs,
       len(regexp_extract_all(text, '\S+')) AS n_tokens
FROM documents
ORDER BY doc_id
"""

_DOCS_QUALITY = """
SELECT doc_id,
       length(text) AS n_chars_obs,
       length(regexp_replace(text, '[^A-Za-z]', '')) AS n_alpha,
       length(regexp_replace(text, '[^0-9]', '')) AS n_digit,
       CAST(FLOOR(100.0 * length(regexp_replace(text, '[^A-Za-z]', ''))
                  / length(text)) AS BIGINT) AS alpha_pct
FROM documents
WHERE length(text) > 0
ORDER BY doc_id
"""

# DuckDB regexp_replace is first-match-only without the 'g' flag.
_DOCS_QUALITY_DUCK = """
SELECT doc_id,
       length(text) AS n_chars_obs,
       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
       length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
       CAST(FLOOR(100.0 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  / length(text)) AS BIGINT) AS alpha_pct
FROM documents
WHERE length(text) > 0
ORDER BY doc_id
"""

# Stopword / punctuation quality signals (the length/punct/stopword
# ratio triple of a training-data quality filter).  Integer outputs for
# hash stability; the stopword test is a lambda-filter over the
# lowercased word list — map-side, codegen, no explode.
_STOPWORDS_SQL = ("'the','and','of','to','a','in','is','it','for','on',"
                  "'with','as','was','at','by','an','be','this','that',"
                  "'from'")


def _docs_stopword_punct_sql(dialect: str) -> str:
    if dialect == "spark":
        words = "regexp_extract_all(lower(text), '[a-z]+', 0)"
        nstop = (f"size(filter({words}, t -> t IN ({_STOPWORDS_SQL})))")
        nwords = f"size({words})"
        npunct = (r"length(regexp_replace(text, '[A-Za-z0-9\\s]', ''))")
    else:
        words = "regexp_extract_all(lower(text), '[a-z]+')"
        nstop = (f"len(list_filter({words},"
                 f" t -> t IN ({_STOPWORDS_SQL})))")
        nwords = f"len({words})"
        npunct = (r"length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))")
    return f"""
SELECT doc_id,
       CAST({nwords} AS BIGINT) AS n_words,
       CAST({nstop} AS BIGINT) AS n_stopwords,
       CAST(CASE WHEN {nwords} > 0
            THEN FLOOR(100.0 * {nstop} / {nwords}) ELSE -1 END AS BIGINT)
           AS stopword_pct,
       CAST({npunct} AS BIGINT) AS n_punct,
       CAST(CASE WHEN length(text) > 0
            THEN FLOOR(100.0 * {npunct} / length(text)) ELSE -1 END
            AS BIGINT) AS punct_pct
FROM documents
ORDER BY doc_id
"""


_DOCS_LANG_STATS = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""

_DOCS_LANGID = """
SELECT doc_id, lang,
       CASE WHEN instr(lower(text), ' the ') > 0
              OR instr(lower(text), ' and ') > 0 THEN 'en'
            WHEN instr(lower(text), ' der ') > 0
              OR instr(lower(text), ' und ') > 0 THEN 'de'
            WHEN instr(lower(text), ' le ') > 0
              OR instr(lower(text), ' et ') > 0 THEN 'fr'
            WHEN instr(lower(text), ' el ') > 0
              OR instr(lower(text), ' los ') > 0 THEN 'es'
            ELSE 'unk' END AS pred_lang
FROM documents
ORDER BY doc_id
"""

# Classifier evaluation as a query: the confusion matrix of the
# heuristic language-id against the labeled lang column, with per-cell
# share of the true label's row — the quality report you'd run before
# trusting a lang filter at corpus scale.  Reuses the langid CASE via
# subquery; one aggregation, ties nowhere.
_DOCS_LANGID_CONFUSION = f"""
WITH preds AS ({_DOCS_LANGID.replace("ORDER BY doc_id", "")}),
cells AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM preds GROUP BY lang, pred_lang
),
rows_tot AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS t FROM cells GROUP BY lang
)
SELECT c.lang, c.pred_lang, c.n,
       CAST(FLOOR(1000.0 * c.n / r.t) AS BIGINT) AS row_share_millis
FROM cells c JOIN rows_tot r ON c.lang = r.lang
ORDER BY c.lang, c.pred_lang
"""

_DOCS_FINGERPRINT_SPARK = """
SELECT doc_id,
       md5(regexp_replace(lower(text), '\\\\s+', ' ')) AS fp
FROM documents
ORDER BY doc_id
"""

_DOCS_FINGERPRINT_DUCK = r"""
SELECT doc_id,
       md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
FROM documents
ORDER BY doc_id
"""

# --- MinHash, production configuration ------------------------------------
# 64 permutations, 16 bands x 4 rows (LSH threshold ~ (1/16)^(1/4) ~ 0.5
# Jaccard — the realistic dedup operating point; the band count is the
# recall/precision lever at 100 TB).  One md5 per shingle, then 64
# universal-hash permutations (a*h + b) mod p in EXACT BIGINT arithmetic,
# identical in Spark and DuckDB.  The 8-hex-digit prefix decodes to an
# integer via conv(hex, 16, 10) on the Spark side (1.6x faster) and via
# the instr('0123456789abcdef', ...) digit expansion in the DuckDB
# oracle — two independent derivations of the same value, verified
# identical over 10k md5s.

_MH_PERMS = 64
_MH_BANDS = 16
_MH_ROWS = 4
_MH_PRIME = 2147483647  # 2^31 - 1


def _min_tokens_rlike(col: str, m: int) -> str:
    """Spark-side row guard "column has >= m whitespace-separated
    tokens" as a cheap RLIKE instead of size(regexp_extract_all(...)):
    the size() form gets pushed below the tokens projection, so the
    full-match regexp ran TWICE per surviving row (measured ~10% of
    extract_near_dups).  A text has >= m maximal \\S+ runs iff it
    contains m-2 interior tokens flanked by two non-space chars across
    m-1 whitespace gaps — the pattern below; the regex engine
    short-circuits on the first match.  Equivalence is pinned by
    tests/test_queries_oracle.py::test_min_tokens_rlike_guard.  The
    DuckDB oracles keep the len() >= m form (frozen text; independent
    derivation)."""
    pattern = "\\\\S" + "\\\\s+\\\\S+" * (m - 2) + "\\\\s+\\\\S"
    return f"{col} RLIKE '{pattern}'"


def _mh_perm_consts() -> list[tuple[int, int]]:
    import random

    rng = random.Random(77)
    return [(rng.randrange(1, _MH_PRIME), rng.randrange(0, _MH_PRIME))
            for _ in range(_MH_PERMS)]


def _mh_core_ctes(dialect: str, min_tokens: int = 3) -> str:
    """toks/sh/hq/sigs CTEs, entirely in array functions: tokenize, build
    3-shingles by index, md5 once per shingle, decode the 8-hex prefix to
    a BIGINT, take 64 permutation minima per document.

    Scale shape: NO explode, NO window, NO shuffle — every document's
    signature is computed map-side in whole-stage codegen; the only
    exchanges left in the minhash family are the band GROUP BY and the
    final ORDER BY.

    The row guard (documents with >= min_tokens tokens) lives at the
    toks level: a WHERE on a later derived array column gets
    filter-pushed by substituting the whole lambda chain into an
    interpreted per-row predicate — measured 20x slower than filtering
    on the plain regexp (round-2 lesson)."""
    if dialect == "spark":
        toks_arr = "regexp_extract_all(text, '\\\\S+', 0)"
        shingles = ("transform(sequence(0, size(ws) - 3), i -> "
                    "concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))")
        guard = _min_tokens_rlike("text", min_tokens)
        tmap, amin = "transform", "array_min"
    else:
        toks_arr = r"regexp_extract_all(text, '\S+')"
        # DuckDB lists are 1-based; range(a, b) is [a, b)
        shingles = ("list_transform(range(1, len(ws) - 1), i -> "
                    "concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))")
        guard = f"len({toks_arr}) >= {min_tokens}"
        tmap, amin = "list_transform", "list_min"
    if dialect == "spark":
        # conv() decodes the hex prefix in one call — measured 1.6x
        # faster than the 8-digit instr expansion at sf0.1, value-
        # identical (checked over 10k md5s).  DuckDB has no conv(),
        # so the oracle keeps the digit expansion — an independent
        # re-derivation of the same integer, which is exactly what an
        # oracle should be.
        digits = "CAST(conv(substr(m, 1, 8), 16, 10) AS BIGINT)"
    else:
        digits = " + ".join(
            f"(CAST(instr('0123456789abcdef', substr(m, {i + 1}, 1))"
            f" AS BIGINT) - 1) * CAST({16 ** (7 - i)} AS BIGINT)"
            for i in range(8)
        )
    mins = ",\n         ".join(
        f"{amin}({tmap}(hq, h -> ({a} * h + {b}) % {_MH_PRIME})) AS m{k + 1}"
        for k, (a, b) in enumerate(_mh_perm_consts())
    )
    return f"""
toks AS (SELECT doc_id, {toks_arr} AS ws FROM documents WHERE {guard}),
sh AS (SELECT doc_id, {shingles} AS shingles FROM toks),
hq AS (
  SELECT doc_id, shingles,
         {tmap}({tmap}(shingles, s -> md5(s)),
                m -> (({digits}) % {_MH_PRIME})) AS hq
  FROM sh
),
sigs AS (
  SELECT doc_id,
         {mins}
  FROM hq
)"""


def _mh_bands_cte(dialect: str) -> str:
    """bands CTE: (doc_id, band_no, band_key) — one pass over sigs,
    16-way row expansion against a VALUES relation."""
    cases = " ".join(
        "WHEN {j} THEN md5(concat_ws('_', {cols}))".format(
            j=j,
            cols=", ".join(
                f"m{j * _MH_ROWS + r + 1}" for r in range(_MH_ROWS)
            ),
        )
        for j in range(_MH_BANDS)
    )
    vals = ",".join(f"({j})" for j in range(_MH_BANDS))
    if dialect == "spark":
        rel = f"(SELECT * FROM VALUES {vals} AS t(band_no))"
    else:
        rel = f"(VALUES {vals}) t(band_no)"
    return f"""
bands AS (
  SELECT doc_id, band_no,
         CASE band_no {cases} END AS band_key
  FROM sigs CROSS JOIN {rel}
)"""


def _mh_prefix(dialect: str, with_bands: bool, min_tokens: int = 3) -> str:
    out = f"WITH {_mh_core_ctes(dialect, min_tokens)}"
    if with_bands:
        out += f", {_mh_bands_cte(dialect)}"
    return out


def _docs_minhash_sql(dialect: str) -> str:
    cols = ", ".join(f"m{k + 1}" for k in range(_MH_PERMS))
    return f"""{_mh_prefix(dialect, with_bands=False)}
SELECT doc_id, {cols} FROM sigs ORDER BY doc_id
"""


def _docs_minhash_bands_sql(dialect: str) -> str:
    return f"""{_mh_prefix(dialect, with_bands=True)}
SELECT band_no, band_key, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
FROM bands
GROUP BY band_no, band_key
ORDER BY band_no, band_key
"""


# 16-bit SimHash from the first 4 hex digits of each word's md5: per bit,
# words vote +1/-1; bit set iff the vote sum is >= 0.  Engine-portable:
# hex digit -> int via instr('0123456789abcdef', ...) - 1.
def _simhash_sql(words_src: str) -> str:
    digit = "instr('0123456789abcdef', substr(md5(w), {pos}, 1)) - 1"
    sums = []
    for j in range(16):
        hexpos = 1 + j // 4
        bitpos = 3 - (j % 4)  # high bit first within the digit
        d = digit.format(pos=hexpos)
        bit = f"CAST(FLOOR(({d}) / {1 << bitpos}) AS INT) % 2"
        sums.append(
            f"SUM(CASE WHEN ({bit}) = 1 THEN 1 ELSE -1 END) AS s{j}"
        )
    votes = ", ".join(sums)
    total = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {1 << (15 - j)} ELSE 0 END)"
        for j in range(16)
    )
    return f"""
WITH words AS (
  SELECT DISTINCT doc_id, w FROM ({words_src}) t
), votes AS (
  SELECT doc_id, {votes}
  FROM words GROUP BY doc_id
)
SELECT doc_id, CAST({total} AS BIGINT) AS simhash16
FROM votes ORDER BY doc_id
"""


_WORDS_SRC_SPARK = (
    "SELECT doc_id, w FROM documents "
    "LATERAL VIEW explode(regexp_extract_all(text, '\\\\S+', 0)) t AS w"
)
_WORDS_SRC_DUCK = (
    r"SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS w"
    " FROM documents"
)

# SimHash near-dup pairs by pigeonhole banding: Hamming distance <= 1
# over 16 bits means AT MOST one bit differs, so at least one of two
# 8-bit halves is IDENTICAL — candidates come from an equi-join on the
# half value (256-way keyspace; review round 4 replaced the first
# version's 4-bit bands, whose 16 values made the join effectively
# all-pairs) and the exact Hamming check (bit_count of XOR — integer
# ops, both engines) runs only on collisions.  A production simhash is
# 64-bit with 16-bit bands (65k-way keys); 16 bits is what the
# fixture's 31-token vocabulary supports.  The bitwise geometry
# complement to the MinHash/Jaccard family.
_SIMHASH_MAX_HAMMING = 1


def _docs_simhash_pairs_sql(dialect: str) -> str:
    words = _WORDS_SRC_SPARK if dialect == "spark" else _WORDS_SRC_DUCK
    sim = _simhash_sql(words).replace("ORDER BY doc_id", "")
    assert "ORDER BY" not in sim  # loud if the inner SQL text drifts
    xor = ("(c.sim_a ^ c.sim_b)" if dialect == "spark"
           else "xor(c.sim_a, c.sim_b)")
    idiv = "DIV" if dialect == "spark" else "//"
    return f"""
WITH sims AS ({sim}),
sbands AS (
  SELECT doc_id, simhash16, band_no,
         (simhash16 {idiv} CAST(POW(256, band_no) AS BIGINT)) % 256
             AS band_val
  FROM sims CROSS JOIN (
    SELECT CAST(0 AS INT) AS band_no UNION ALL SELECT 1) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash16 AS sim_a, b.simhash16 AS sim_b
  FROM sbands a JOIN sbands b
    ON a.band_no = b.band_no AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count({xor}) AS INT) AS hamming
FROM cand c
WHERE bit_count({xor}) <= {_SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


# Near-dup candidate PAIRS: docs colliding in ANY of the 16 bands (the
# real LSH candidate generation — a band-keyed equi-join, never all-pairs),
# with the number of agreeing bands as the similarity hint.
def _docs_near_dup_pairs_sql(dialect: str) -> str:
    return f"""{_mh_prefix(dialect, with_bands=True)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands_agree
FROM bands a JOIN bands b
  ON a.band_no = b.band_no AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY doc_a, doc_b
"""


# Exact 3-gram Jaccard verification of the LSH candidates: the candidate
# pairs are cheap (band-keyed join), the expensive exact set intersection
# runs only on those pairs.  Integer outputs (Jaccard in 1/1000ths via
# FLOOR) keep the oracle hash-stable.
_JACCARD_PAIRS_CTE = """
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)"""


def _jaccard_exprs(dialect: str) -> tuple:
    """(sset CTE, intersection expr, |a|, |b|) for the exact-Jaccard
    verification of LSH candidate pairs — shared by the verify query and
    the dup-cluster edge query so both grade the same edge set."""
    if dialect == "spark":
        sset = """
sset AS (SELECT doc_id, array_distinct(shingles) AS ss FROM sh)"""
        inter = "size(array_intersect(a.ss, b.ss))"
        card = "size({0}.ss)"
    else:
        sset = """
sset AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh)"""
        inter = "len(list_intersect(a.ss, b.ss))"
        card = "len({0}.ss)"
    return sset, inter, card.format("a"), card.format("b")


def _docs_jaccard_verify_sql(dialect: str) -> str:
    sset, inter, na, nb = _jaccard_exprs(dialect)
    return f"""{_mh_prefix(dialect, with_bands=True)},
{_JACCARD_PAIRS_CTE}, {sset}
SELECT doc_a, doc_b,
       {inter} AS n_common,
       {na} AS n_a, {nb} AS n_b,
       CAST(FLOOR(1000.0 * {inter} / ({na} + {nb} - {inter}))
            AS BIGINT) AS jaccard_millis
FROM pairs JOIN sset a ON doc_a = a.doc_id JOIN sset b ON doc_b = b.doc_id
ORDER BY doc_a, doc_b
"""


def _md5_int(dialect: str, expr: str, nhex: int = 12) -> str:
    """First `nhex` hex digits of md5(expr) as a BIGINT (nhex <= 15 so
    it always fits signed 64-bit).  Spark decodes with conv(); the
    DuckDB oracle re-derives the same integer by digit expansion — the
    minhash family's dual-derivation pattern."""
    if dialect == "spark":
        return (f"CAST(conv(substr(md5({expr}), 1, {nhex}), 16, 10)"
                " AS BIGINT)")
    digits = " + ".join(
        f"(CAST(instr('0123456789abcdef', substr(md5({expr}),"
        f" {i + 1}, 1)) AS BIGINT) - 1) * CAST({16 ** (nhex - 1 - i)}"
        " AS BIGINT)"
        for i in range(nhex)
    )
    return f"({digits})"


# ------- cross-document duplicated n-gram spans (substring dedup) -------
#
# The per-document signal behind exact substring deduplication (Lee et
# al., "Deduplicating Training Data Makes Language Models Better", ACL
# 2022): how many of a document's n-token windows also occur verbatim in
# some OTHER document.  Pipelines drop or trim documents whose
# dup_millis is high.
#
# Scale shape: windows are hashed to 48-bit ints BEFORE the shuffle, so
# every exchange carries (doc_id, 8-byte hash), not n-gram strings; and
# the expensive gram explosion runs ONCE — the (doc_id, gh) partial
# aggregate feeds both the cross-doc count and the per-doc rollup
# (measured 35% faster than the join-back-to-raw-grams form, which
# inlines the explode+md5 on both sides).  A hot boilerplate gram (the
# classic skew case — a site footer repeated across half the crawl) is
# exactly what AQE's skew-join splitting handles at runtime.
# DISTINCT-doc counting note: pergram's c >= 1 per (doc, gh), so
# COUNT(*) over pergram IS the distinct-doc count per gram.
_NGRAM_N = 5


def _docs_ngram_dup_sql(dialect: str) -> str:
    n = _NGRAM_N
    if dialect == "spark":
        toks = "regexp_extract_all(text, '\\\\S+', 0)"
        grams = (f"explode(transform(sequence(1, size(ws) - {n - 1}),"
                 f" i -> concat_ws(' ', slice(ws, i, {n}))))")
        guard = _min_tokens_rlike("text", n)
        toks_src = f"SELECT doc_id, {toks} AS ws FROM documents WHERE {guard}"
        eligible = "SELECT doc_id, ws FROM toks"
    else:
        toks = r"regexp_extract_all(text, '\S+')"
        grams = (f"unnest(list_transform(range(1, len(ws) - {n - 2}),"
                 f" i -> array_to_string(ws[i:i+{n - 1}], ' ')))")
        guard = f"len(ws) >= {n}"
        toks_src = f"SELECT doc_id, {toks} AS ws FROM documents"
        eligible = f"SELECT doc_id, ws FROM toks WHERE {guard}"
    gh = _md5_int(dialect, "g")
    return f"""
WITH toks AS ({toks_src}),
eligible AS ({eligible}),
gstr AS (SELECT doc_id, {grams} AS g FROM eligible),
grams AS (SELECT doc_id, {gh} AS gh FROM gstr),
pergram AS (
  SELECT doc_id, gh, CAST(COUNT(*) AS BIGINT) AS c
  FROM grams GROUP BY doc_id, gh
),
gcount AS (SELECT gh, COUNT(*) AS nd FROM pergram GROUP BY gh),
perdoc AS (
  SELECT p.doc_id,
         CAST(SUM(p.c) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN g.nd >= 2 THEN p.c ELSE 0 END) AS BIGINT)
             AS n_dup_windows
  FROM pergram p JOIN gcount g ON p.gh = g.gh
  GROUP BY p.doc_id
)
SELECT doc_id, n_windows, n_dup_windows,
       CAST(FLOOR(1000.0 * n_dup_windows / n_windows) AS BIGINT)
           AS dup_millis
FROM perdoc ORDER BY doc_id
"""


# -------------- selector-driven extraction (custom policy) --------------
#
# The north_star's configurable boilerplate policy as a driver query:
# extraction under a CSS drop selector (the default boilerplate set
# PLUS h2 headings — deliberately different output than the production
# tag-set path, so the frozen oracle distinguishes the two).  Any
# selector the engine supports works (.sidebar, [role=banner], ...);
# per-url sha256 of the selector-stripped text makes one wrong node
# classification anywhere fail the hash.


def _selector_row(doc) -> list[tuple]:
    mt = main_text_selector(doc, _SELECTOR_POLICY)
    return [(hashlib.sha256(mt.encode("utf-8", "surrogateescape"))
             .hexdigest(), len(mt))]


def _extract_selector_pages(spark, sf_dir: str) -> DataFrame:
    return _parsed_once(dom_map(
        _pages_fixed(spark), _selector_row,
        "sel_sha256 string, sel_len long", latest=True,
    ).select("url", "sel_sha256", "sel_len")).orderBy("url")


# ---------------- Unicode NFC normalization (dual engine) ----------------
#
# Web text arrives in mixed normalization forms (combining sequences vs
# precomposed — 'e'+U+0301 vs 'é'), and every dedup/hash upstream of it
# silently misses equal strings unless the corpus is NFC-normalized
# first.  Test material is SYNTHESIZED IN SQL from doc_id (chr() in
# both engines): decomposed latin (e + combining acute), already-
# composed é, Hangul jamo (NFC composes to a syllable), and plain
# ASCII, mixed per doc.  The Spark side normalizes with Python's
# unicodedata (Arrow-batched pandas UDF — the honest path, Spark has
# no NFC builtin); the DuckDB oracle uses its independent built-in
# nfc_normalize.  Two unrelated Unicode implementations must agree on
# every byte (md5 of the result rides in the output).
def _nfc_source_sql() -> str:
    # The non-ASCII material is embedded as UTF-8 string LITERALS in
    # the SQL text (identical bytes reach both parsers) — Spark's
    # chr() is ASCII-mod-256 and cannot build these codepoints.
    # Codepoints chosen so NFC changes length for half the rows:
    # U+0301 combining acute after 'e'; U+1100/U+1161 Hangul jamo L/V
    # (compose to U+AC00); precomposed U+00E9 stays as-is.
    decomposed = "caf\u0065\u0301_"   # e + combining acute
    composed = "caf\u00e9_"          # precomposed \u00e9
    jamo = "\u1100\u1161_"           # jamo pair -> U+AC00 under NFC
    return f"""
SELECT doc_id,
       CASE doc_id % 4
         WHEN 0 THEN '{decomposed}' || doc_id
         WHEN 1 THEN '{composed}' || doc_id
         WHEN 2 THEN '{jamo}' || doc_id
         ELSE 'ascii_' || doc_id
       END AS raw_text
FROM documents
"""


def _text_nfc_normalize(spark, sf_dir: str) -> DataFrame:
    import pandas
    from pyspark.sql.functions import pandas_udf

    load_views(spark, sf_dir)
    src = spark.sql(_nfc_source_sql())

    def _nfc_map(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x))

    # assigned post-hoc: this module uses `from __future__ import
    # annotations`, which stringifies inline hints; pyspark resolves
    # them against module globals where the function-local pandas
    # import is invisible — real type objects sidestep that
    _nfc_map.__annotations__ = {"s": pandas.Series,
                                "return": pandas.Series}
    nfc = pandas_udf(_nfc_map, "string")

    out = src.select(
        "doc_id",
        F.length("raw_text").alias("raw_chars"),
        nfc(F.col("raw_text")).alias("norm"),
    )
    return out.select(
        "doc_id", "raw_chars",
        F.length("norm").alias("nfc_chars"),
        F.md5(F.col("norm").cast("binary")).alias("nfc_md5"),
    ).orderBy("doc_id")


def _text_nfc_normalize_oracle() -> str:
    return f"""
WITH src AS ({_nfc_source_sql()}),
n AS (SELECT doc_id, raw_text, nfc_normalize(raw_text) AS norm FROM src)
SELECT doc_id,
       CAST(length(raw_text) AS INT) AS raw_chars,
       CAST(length(norm) AS INT) AS nfc_chars,
       md5(norm) AS nfc_md5
FROM n ORDER BY doc_id
"""


# ------------- duplicated-span extraction (gaps & islands) -------------
#
# The span-level form of substring dedup: Lee et al. REMOVE the
# duplicated substring rather than the document, which needs the
# positions — this query reports, per document, the longest CONSECUTIVE
# run of duplicated 5-token windows (start position + length in
# windows, i.e. a concrete [start, start+len+4) token span to cut).
# Runs are recovered with the gaps-and-islands trick: among duplicated
# windows ordered by position, pos - ROW_NUMBER() is constant within a
# consecutive run.  Window functions partition on doc_id — the same key
# as every other per-doc stage.
def _docs_dup_spans_sql(dialect: str) -> str:
    n = _NGRAM_N
    if dialect == "spark":
        toks = "regexp_extract_all(text, '\\\\S+', 0)"
        grams = (f"posexplode(transform(sequence(1, size(ws) - {n - 1}),"
                 f" i -> concat_ws(' ', slice(ws, i, {n}))))")
        gsel = (f"SELECT doc_id, pos, g FROM eligible"
                f" LATERAL VIEW {grams} t AS pos, g")
        guard = None  # spark: RLIKE guard at the toks level (see below)
    else:
        toks = r"regexp_extract_all(text, '\S+')"
        gsel = (f"SELECT doc_id,"
                f" unnest(range(0, len(ws) - {n - 1})) AS pos,"
                f" unnest(list_transform(range(1, len(ws) - {n - 2}),"
                f" i -> array_to_string(ws[i:i+{n - 1}], ' '))) AS g"
                " FROM eligible")
        guard = f"len(ws) >= {n}"
    gh = _md5_int(dialect, "g")
    if dialect == "spark":
        toks_src = (f"SELECT doc_id, {toks} AS ws FROM documents"
                    f" WHERE {_min_tokens_rlike('text', n)}")
        eligible = "SELECT doc_id, ws FROM toks"
    else:
        toks_src = f"SELECT doc_id, {toks} AS ws FROM documents"
        eligible = f"SELECT doc_id, ws FROM toks WHERE {guard}"
    return f"""
WITH toks AS ({toks_src}),
eligible AS ({eligible}),
gstr AS ({gsel}),
grams AS (SELECT doc_id, pos, {gh} AS gh FROM gstr),
gcount AS (SELECT gh, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY gh),
dups AS (
  SELECT g.doc_id, g.pos
  FROM grams g JOIN gcount c ON g.gh = c.gh
  WHERE c.nd >= 2
),
islands AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
             AS grp
  FROM dups
),
runs AS (
  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS run_start,
         CAST(COUNT(*) AS BIGINT) AS run_len
  FROM islands GROUP BY doc_id, grp
),
best AS (
  SELECT doc_id, run_start, run_len FROM (
    SELECT doc_id, run_start, run_len,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY run_len DESC, run_start) AS rn
    FROM runs) t
  WHERE rn = 1
)
SELECT doc_id, run_start, run_len,
       CAST(run_len + {n - 1} AS BIGINT) AS span_tokens
FROM best ORDER BY doc_id
"""


# ------------- benchmark decontamination (n-gram overlap) -------------
#
# The compliance gate every serious training corpus passes through:
# remove documents sharing verbatim n-grams with held-out evaluation
# sets (GPT-3's 13-gram rule; 8 tokens here because fixture docs are
# 30-100 tokens).  The eval set is a deterministic slice (doc_id % 83
# = 0); every other doc reports how many of its 8-gram windows appear
# in ANY eval doc and how many distinct eval docs it collides with.
# Scale shape: eval-set grams are tiny (a few thousand benchmarks vs
# the corpus) — the join builds/broadcasts eval-side hashes and the
# corpus streams past map-side; grams shuffle as 48-bit ints.
_DECON_N = 8
_DECON_EVAL_MOD = 83


def _docs_decontaminate_sql(dialect: str) -> str:
    n = _DECON_N
    if dialect == "spark":
        toks = "regexp_extract_all(text, '\\\\S+', 0)"
        grams = (f"explode(transform(sequence(1, size(ws) - {n - 1}),"
                 f" i -> concat_ws(' ', slice(ws, i, {n}))))")
        guard = _min_tokens_rlike("text", n)
        toks_src = f"SELECT doc_id, {toks} AS ws FROM documents WHERE {guard}"
        eligible = "SELECT doc_id, ws FROM toks"
    else:
        toks = r"regexp_extract_all(text, '\S+')"
        grams = (f"unnest(list_transform(range(1, len(ws) - {n - 2}),"
                 f" i -> array_to_string(ws[i:i+{n - 1}], ' ')))")
        guard = f"len(ws) >= {n}"
        toks_src = f"SELECT doc_id, {toks} AS ws FROM documents"
        eligible = f"SELECT doc_id, ws FROM toks WHERE {guard}"
    gh = _md5_int(dialect, "g")
    return f"""
WITH toks AS ({toks_src}),
eligible AS ({eligible}),
gstr AS (SELECT doc_id, {grams} AS g FROM eligible),
grams AS (SELECT doc_id, {gh} AS gh FROM gstr),
evalg AS (
  SELECT DISTINCT gh, doc_id AS eval_doc FROM grams
  WHERE doc_id % {_DECON_EVAL_MOD} = 0
),
hits AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_overlap_grams,
         CAST(COUNT(DISTINCT e.eval_doc) AS BIGINT) AS n_eval_docs_hit
  FROM grams t JOIN evalg e ON t.gh = e.gh
  WHERE t.doc_id % {_DECON_EVAL_MOD} <> 0
  GROUP BY t.doc_id
)
SELECT doc_id, n_overlap_grams, n_eval_docs_hit,
       CAST(1 AS INT) AS contaminated
FROM hits ORDER BY doc_id
"""


# --------- corpus unigram-LM quality score (CCNet-style proxy) ---------
#
# CCNet/Gopher-style pipelines score documents with a language-model
# perplexity and keep the low-perplexity tier.  The distributed skeleton
# of that operation is this query: build the LM from the corpus itself
# (here a unigram MLE — one GROUP BY), broadcast-ish join tokens to
# their corpus frequencies, and aggregate per-document self-information.
# Everything after log2 is integer arithmetic: each token's cost is
# rounded to millibits FIRST (FLOOR(x + 0.5), exact-integer sums are
# order-independent), so the per-doc totals hash identically on both
# engines regardless of summation order.
#
# Accepted float boundary (same class as the ANN _COS_QUANT precedent):
# the single log2 evaluation may differ by 1 ulp between JVM Math.log
# and libm, flipping a token's millibits only when -1000*log2(c/t)+0.5
# sits within ~1e-13 of an integer — for exact powers of two both
# engines are exact, so only pathological near-misses qualify
# (probability ~1e-13 per distinct token; zero observed over the
# fixture vocabularies at every graded sf).
#
# Scale shape: wcnt is vocabulary-sized (Zipf: tiny vs the corpus), so
# Catalyst/AQE broadcasts it; the 1-row total is a broadcast nested
# loop.  The only corpus-sized shuffle is the per-doc GROUP BY.
def _unigram_ctes(dialect: str) -> str:
    """The unigram-LM cost CTE chain (u-prefixed names so it composes
    with the minhash CTEs inside one WITH — docs_curation_verdict)."""
    if dialect == "spark":
        toks = "regexp_extract_all(text, '\\\\S+', 0)"
        wtok = "SELECT doc_id, explode(ws) AS w FROM utoks"
    else:
        toks = r"regexp_extract_all(text, '\S+')"
        wtok = "SELECT doc_id, unnest(ws) AS w FROM utoks"
    return f"""utoks AS (SELECT doc_id, {toks} AS ws FROM documents),
uwtoks AS ({wtok}),
uwcnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uwtoks GROUP BY w),
utot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM uwcnt),
ucosts AS (
  SELECT uwtoks.doc_id,
         CAST(FLOOR(-1000.0 * log2(1.0 * uwcnt.c / utot.t) + 0.5)
              AS BIGINT) AS millibits
  FROM uwtoks JOIN uwcnt ON uwtoks.w = uwcnt.w CROSS JOIN utot
),
uni AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(millibits) AS BIGINT) AS sum_millibits,
         CAST(FLOOR(1.0 * SUM(millibits) / COUNT(*)) AS BIGINT)
             AS avg_millibits
  FROM ucosts GROUP BY doc_id
)"""


def _docs_unigram_logprob_sql(dialect: str) -> str:
    return (f"WITH {_unigram_ctes(dialect)}\n"
            "SELECT doc_id, n_tokens, sum_millibits, avg_millibits"
            " FROM uni ORDER BY doc_id\n")


# ------------- deterministic HyperLogLog distinct sketch  -------------
#
# Spark's approx_count_distinct and DuckDB's approx_distinct are both
# HLL++ but with engine-specific hashes, so their estimates can never
# hash-match.  This is a from-scratch HLL (Flajolet et al. 2007) whose
# register assignment is pinned to md5 — bit-identical on any engine:
#   register index = first 2 md5 hex digits (m = 256 registers)
#   rho           = leading zeros in the next 48 bits + 1, computed as
#                   49 - length(bin(v)) — pure string/int ops, no
#                   float log, so no cross-engine ulp risk
# Registers are MAX-merged per group (the same merge an executor-side
# partial aggregation performs at scale: each partition sketches
# locally, the shuffle carries 256 bytes per group, never rows).
# Z is kept as the exact integer SUM(2^(48 - rho)); the bias-corrected
# estimate alpha_256 * m^2 * 2^48 / Z divides two identically-derived
# doubles, so FLOOR() agrees across engines.  Exact distinct + signed
# error ride along to exhibit the sketch's accuracy.
_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)


def _docs_shingle_hll_sql(dialect: str) -> str:
    if dialect == "spark":
        toks = "regexp_extract_all(text, '\\\\S+', 0)"
        grams = ("explode(transform(sequence(1, size(ws) - 2),"
                 " i -> concat_ws(' ', slice(ws, i, 3))))")
        guard = _min_tokens_rlike("text", 3)
        toks_src = (f"SELECT doc_id, lang, {toks} AS ws FROM documents"
                    f" WHERE {guard}")
        eligible = "SELECT doc_id, lang, ws FROM toks"
    else:
        toks = r"regexp_extract_all(text, '\S+')"
        grams = ("unnest(list_transform(range(1, len(ws) - 1),"
                 " i -> array_to_string(ws[i:i+2], ' ')))")
        guard = "len(ws) >= 3"
        toks_src = f"SELECT doc_id, lang, {toks} AS ws FROM documents"
        eligible = f"SELECT doc_id, lang, ws FROM toks WHERE {guard}"
    idx = _md5_int(dialect, "g", nhex=2)
    v48 = (_md5_int(dialect, "g", nhex=14)
           if dialect == "duck" else
           "CAST(conv(substr(md5(g), 3, 12), 16, 10) AS BIGINT)")
    if dialect == "duck":
        # digit expansion already covers 14 hex; drop the top 2 (the
        # register index) to leave the 48 rho bits
        v48 = f"({v48} % CAST({16 ** 12} AS BIGINT))"
    rho = f"CAST(49 - length(bin({v48})) AS BIGINT)"
    return f"""
WITH toks AS ({toks_src}),
eligible AS ({eligible}),
gstr AS (SELECT lang, {grams} AS g FROM eligible),
hashed AS (
  SELECT lang, g, {idx} AS reg, {rho} AS rho FROM gstr
),
regs AS (
  SELECT lang, reg, MAX(rho) AS r FROM hashed GROUP BY lang, reg
),
sketch AS (
  SELECT lang,
         CAST(SUM(CAST(POW(2, 48 - r) AS BIGINT)) AS BIGINT) AS z_hit,
         CAST(COUNT(*) AS BIGINT) AS m_hit
  FROM regs GROUP BY lang
),
exact AS (
  SELECT lang, CAST(COUNT(DISTINCT g) AS BIGINT) AS n_exact
  FROM gstr GROUP BY lang
)
SELECT s.lang,
       CAST(FLOOR(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}
                  * CAST({2 ** 48} AS DOUBLE)
                  / (s.z_hit + ({_HLL_M} - s.m_hit)
                     * CAST({2 ** 48} AS BIGINT)))
            AS BIGINT) AS hll_estimate,
       e.n_exact,
       CAST(FLOOR(1000.0 * (FLOOR(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}
                  * CAST({2 ** 48} AS DOUBLE)
                  / (s.z_hit + ({_HLL_M} - s.m_hit)
                     * CAST({2 ** 48} AS BIGINT))) - e.n_exact)
                  / e.n_exact) AS BIGINT) AS err_millis
FROM sketch s JOIN exact e ON s.lang = e.lang
ORDER BY s.lang
"""


# --------- line-level dedup fused with extraction (RefinedWeb) ---------
#
# RefinedWeb/CCNet-style line deduplication over EXTRACTED text: a line
# that appears verbatim in >= 2 distinct urls is boilerplate ("Section
# 5" headers, cookie banners, footers) and is removed; the per-url
# output reports line counts and the sha256 of the text with duplicate
# lines stripped, so a single kept/dropped line anywhere flips the hash.
#
# Scale shape: line identity shuffles as a 48-bit md5 int, not the line
# string (same rationale as docs_ngram_dup); the count and the join
# back share the hash key; the per-url reassembly groups on url — the
# extraction job's own partitioning key, so at cluster scale the
# reassembly can reuse the extract shuffle's layout.  The Spark side
# runs extraction -> explode -> dedup in ONE plan; the DuckDB oracle
# re-derives the entire line computation in SQL from frozen per-line
# input (produced by the golden-verified in-process engine — inputs,
# not answers).
_LINE_DUP_URLS = 2


def _line_dedup_sql(dialect: str, lines_src: str) -> str:
    lh = _md5_int(dialect, "line")
    if dialect == "spark":
        kept = ("array_join(transform(array_sort(collect_list("
                f"CASE WHEN nu < {_LINE_DUP_URLS} THEN"
                " struct(line_no, line) END)), x -> x.line), char(10))")
        sha = "sha2(kept_text, 256)"
    else:
        kept = ("coalesce(string_agg(CASE WHEN nu <"
                f" {_LINE_DUP_URLS} THEN line END, chr(10)"
                " ORDER BY line_no), '')")
        sha = "sha256(kept_text)"
    return f"""
WITH lines AS ({lines_src}),
nonempty AS (SELECT url, line_no, line FROM lines WHERE trim(line) <> ''),
keyed AS (SELECT url, line_no, line, {lh} AS lhash FROM nonempty),
lcount AS (
  SELECT lhash, COUNT(DISTINCT url) AS nu FROM keyed GROUP BY lhash
),
marked AS (
  SELECT k.url, k.line_no, k.line, c.nu
  FROM keyed k JOIN lcount c ON k.lhash = c.lhash
),
perurl AS (
  SELECT url,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN nu >= {_LINE_DUP_URLS} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup_lines,
         {kept} AS kept_text
  FROM marked GROUP BY url
)
SELECT url, n_lines, n_dup_lines,
       CAST(FLOOR(1000.0 * n_dup_lines / n_lines) AS BIGINT) AS dup_millis,
       {sha} AS kept_sha256
FROM perurl ORDER BY url
"""


def _extract_line_dedup(spark, sf_dir: str) -> DataFrame:
    """Extraction -> line explode -> cross-url line dedup in one Spark
    plan over the fixed 500-page fixture (frozen-lines oracle)."""
    out = run_extract(spark, _pages_fixed(spark))
    lines_src = (
        "SELECT url, pos AS line_no, l AS line FROM {extracted}"
        " LATERAL VIEW posexplode(split(main_text, '\\n')) t AS pos, l"
    )
    return spark.sql(_line_dedup_sql("spark", lines_src),
                     extracted=_parsed_once(out.select("url", "main_text")))


# ---------------- PMI collocations (top token bigrams) ----------------
#
# Collocation mining: adjacent token pairs ranked by pointwise mutual
# information log2(N * c_xy / (c_x * c_y)) — the signal behind
# phrase/vocab induction over a corpus.  Bigrams build map-side from
# the token array (no window function over exploded tokens); the
# unigram join sides are vocabulary-sized.  PMI is quantized to
# centibits with the module's single-float-op FLOOR(x*100 + 0.5)
# convention; ranking ties break on the pair text.  A minimum pair
# count keeps the head statistical, not noise.
_PMI_MIN_COUNT = 25


def _docs_pmi_bigrams_sql(dialect: str) -> str:
    if dialect == "spark":
        toks = "regexp_extract_all(text, '\\\\S+', 0)"
        bigrams = ("explode(transform(sequence(1, size(ws) - 1),"
                   " i -> struct(ws[i - 1] AS w1, ws[i] AS w2)))")
        bsel = (f"SELECT b.w1 AS w1, b.w2 AS w2 FROM toks"
                f" LATERAL VIEW {bigrams} t AS b WHERE size(ws) >= 2")
        wtok = "SELECT explode(ws) AS w FROM toks"
    else:
        toks = r"regexp_extract_all(text, '\S+')"
        bsel = ("SELECT unnest(ws[1:-2]) AS w1, unnest(ws[2:-1]) AS w2"
                " FROM toks WHERE len(ws) >= 2")
        wtok = "SELECT unnest(ws) AS w FROM toks"
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS ws FROM documents),
bigrams AS ({bsel}),
bcnt AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bigrams
  GROUP BY w1, w2
),
ucnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
         FROM ({wtok}) t GROUP BY w),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM bcnt)
SELECT b.w1, b.w2, b.c AS pair_count,
       CAST(FLOOR(100.0 * log2(1.0 * t.n * b.c / (u1.c * u2.c)) + 0.5)
            AS BIGINT) AS pmi_centibits
FROM bcnt b
JOIN ucnt u1 ON b.w1 = u1.w
JOIN ucnt u2 ON b.w2 = u2.w
CROSS JOIN tot t
WHERE b.c >= {_PMI_MIN_COUNT}
ORDER BY pmi_centibits DESC, b.w1, b.w2 LIMIT 20
"""


# ------------------- TF-IDF top-k terms per doc -------------------
#
# Keyword extraction with the standard tf x ln(N/df) weighting, kept
# hash-stable by quantizing idf to integer millinats per TERM (FLOOR +
# 0.5 on one double op) and scoring as tf_count * idf_milli — pure
# integer ranking after that, ROW_NUMBER tie-broken by term.  The df
# table is vocabulary-sized (broadcastable); the per-doc window
# partitions on doc_id, the same key as the tf GROUP BY, so AQE reuses
# the exchange.
def _docs_tfidf_sql(dialect: str) -> str:
    if dialect == "spark":
        toks = "regexp_extract_all(text, '\\\\S+', 0)"
        wtok = "SELECT doc_id, explode(ws) AS w FROM toks"
    else:
        toks = r"regexp_extract_all(text, '\S+')"
        wtok = "SELECT doc_id, unnest(ws) AS w FROM toks"
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS ws FROM documents),
wtoks AS ({wtok}),
tf AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tfc
  FROM wtoks GROUP BY doc_id, w
),
df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS dfc FROM tf GROUP BY w),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
idf AS (
  SELECT w, CAST(FLOOR(1000.0 * ln(1.0 * nd / dfc) + 0.5) AS BIGINT)
         AS idf_milli
  FROM df CROSS JOIN n
),
scored AS (
  SELECT tf.doc_id, tf.w, CAST(tf.tfc * idf.idf_milli AS BIGINT) AS score
  FROM tf JOIN idf ON tf.w = idf.w
),
ranked AS (
  SELECT doc_id, w, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, w) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS INT) AS rnk, w AS term, score
FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk
"""


# ------------------- per-host skew diagnosis (urls) -------------------
#
# The report you run BEFORE picking salting factors: pages per url-host,
# each heavy hitter's corpus share and its multiple of the uniform
# share.  Host assignment reuses url_normalize's synthetic generator
# with a deliberate hot host (every third doc lands on host0 — the
# "half the crawl is one domain" case the north rule's salted
# repartition exists for).  Top-k via ORDER BY/LIMIT plans as
# TakeOrderedAndProject over the host-sized aggregate: the full corpus
# never sorts.
_URL_HOST_SKEW = """
WITH hosts AS (
  SELECT doc_id,
         'host' || (CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 97 END)
         || '.example' AS host
  FROM documents
),
agg AS (
  SELECT host, CAST(COUNT(*) AS BIGINT) AS n_pages FROM hosts GROUP BY host
),
tot AS (
  SELECT CAST(SUM(n_pages) AS BIGINT) AS t,
         CAST(COUNT(*) AS BIGINT) AS n_hosts
  FROM agg
)
SELECT host, n_pages,
       CAST(FLOOR(1000.0 * n_pages / t) AS BIGINT) AS share_millis,
       CAST(FLOOR(1000.0 * n_pages * n_hosts / t) AS BIGINT)
           AS x_uniform_millis
FROM agg CROSS JOIN tot
ORDER BY n_pages DESC, host LIMIT 10
"""


# ------------- anchor-text aggregation over the link graph -------------
#
# The web-graph rollup behind anchor-text features (retrieval training,
# title enrichment, spam signals): every a[href] match contributes
# (source url, href, anchor text); links are bucketed to their TARGET
# (the /ref/<doc> prefix — the fixture's citation shape) and the top
# in-degree targets report reference counts, distinct sources and the
# anchor-text variety.  ORDER BY/LIMIT plans as TakeOrderedAndProject
# over the target-sized aggregate.  Spark extracts anchors through the
# CSS engine in a dom_map extractor, as page_links does; the oracle
# runs the identical ANSI rollup over frozen per-anchor rows from the
# in-process engine.
_ANCHOR_AGG_SQL = """
WITH targets AS (
  SELECT url,
         CASE WHEN href LIKE '/ref/%'
              THEN regexp_extract(href, '^(/ref/[0-9]+)', 1)
              ELSE href END AS target,
         anchor_text
  FROM {src}
)
SELECT target,
       CAST(COUNT(*) AS BIGINT) AS n_refs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT anchor_text) AS BIGINT) AS n_anchor_variants,
       MIN(anchor_text) AS first_anchor
FROM targets GROUP BY target
ORDER BY n_refs DESC, target LIMIT 50
"""


def _anchor_rows(doc) -> list[tuple]:
    return [(_utf8_safe(m["href"]), _utf8_safe(m.inner_text()))
            for m in _A_HREF.select(doc)]


def _extract_anchor_frame(spark) -> DataFrame:
    """(url, href, anchor_text) rows from every parsed fixture page via
    the CSS engine."""
    pages = _pages_fixed(spark, spread=True).select("url", "html")
    return (dom_map(pages, _anchor_rows, "href string, anchor_text string")
            .filter("err = ''").select("url", "href", "anchor_text"))


def _extract_anchor_texts(spark, sf_dir: str) -> DataFrame:
    return spark.sql(_ANCHOR_AGG_SQL, src=_extract_anchor_frame(spark))


# ------------- exact per-group quantiles (rank arithmetic) -------------
#
# Engine-portable EXACT discrete quantiles: percentile_approx sketches
# differ between engines by construction, so the cross-checkable form
# is rank arithmetic — value at row ceil(q*n) of the per-group sort
# (ties broken by doc_id, so the picked row is unique and
# deterministic).  One window pass, one aggregation; the window
# partitions on the same key as the final GROUP BY.
_DOCS_LENGTH_QUANTILES = """
WITH ranked AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang,
       CAST(MAX(n) AS BIGINT) AS n_docs,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                     THEN n_chars END) AS BIGINT) AS p50_chars,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                     THEN n_chars END) AS BIGINT) AS p90_chars,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT)
                     THEN n_chars END) AS BIGINT) AS p99_chars
FROM ranked GROUP BY lang ORDER BY lang
"""


# ------------- deterministic Bloom filter (membership sketch) -------------
#
# The third classic sketch next to HLL (distincts) and CMS (counts):
# set membership.  Spark's own bloomFilter/might_contain is
# engine-private, so like the others this one pins the hash layout to
# md5: k=3 bit positions per key in an m=64-bit filter stored as
# BIGINT words built with BIT_OR aggregation (order-free, partial-agg
# safe — each word is the OR of per-key power-of-two contributions).
# Words are 32-bit (8 of them): a 64-bit word would need 2^63, which
# overflows signed BIGINT differently per engine.
# The filter is built from ENGLISH docs' token set and probed with the
# full vocabulary; output reports per probe the filter verdict, the
# true membership, and the false-positive flag — the sketch's error is
# graded, not just its mechanics.  2^x is exact double arithmetic for
# x <= 62, so CAST(POW(2, bit) AS BIGINT) is exact in both engines.
_BLOOM_BITS = 64  # sized so the ~30-key fixture load yields real
# false positives — both verdict branches graded, not just mechanics
_BLOOM_K = 3


def _docs_bloom_sql(dialect: str) -> str:
    if dialect == "spark":
        toks = "regexp_extract_all(text, '\\\\S+', 0)"
        wtok = "SELECT lang, explode(ws) AS w FROM toks"
        bor = "bit_or"
    else:
        toks = r"regexp_extract_all(text, '\S+')"
        wtok = "SELECT lang, unnest(ws) AS w FROM toks"
        bor = "bit_or"
    def bitpos(j: int) -> str:
        h = _md5_int(dialect, f"('b{j}:' || w)", nhex=4)
        return f"(({h}) % {_BLOOM_BITS})"
    setters = []
    for j in range(_BLOOM_K):
        setters.append(f"{bitpos(j)} AS b{j}")
    bits_union = " UNION ALL ".join(
        f"SELECT b{j} AS bit FROM kb" for j in range(_BLOOM_K))
    words = ", ".join(
        f"CAST({bor}(CASE WHEN bit >= {32 * wd} AND bit < {32 * (wd + 1)}"
        f" THEN CAST(POW(2, bit - {32 * wd}) AS BIGINT)"
        f" ELSE 0 END) AS BIGINT) AS word{wd}"
        for wd in range(_BLOOM_BITS // 32))
    def probe_hit() -> str:
        conds = []
        for j in range(_BLOOM_K):
            b = bitpos(j).replace(" w)", " p.w)")
            conds.append(
                "(CASE "
                + " ".join(
                    f"WHEN {b} >= {32 * wd} AND {b} < {32 * (wd + 1)}"
                    f" THEN (f.word{wd} {{idiv}}"
                    f" CAST(POW(2, {b} - {32 * wd}) AS BIGINT)) % 2"
                    for wd in range(_BLOOM_BITS // 32))
                + " END) = 1")
        return " AND ".join(conds)
    idiv = "DIV" if dialect == "spark" else "//"
    hit = probe_hit().format(idiv=idiv)
    return f"""
WITH toks AS (SELECT lang, {toks} AS ws FROM documents),
wtoks AS ({wtok}),
en_keys AS (SELECT DISTINCT w FROM wtoks WHERE lang = 'en'),
kb AS (SELECT w, {', '.join(setters)} FROM en_keys),
bits AS ({bits_union}),
filt AS (SELECT {words} FROM bits),
vocab AS (SELECT DISTINCT w FROM wtoks),
-- the fixture langs share one vocabulary, so genuine non-members are
-- synthesized from doc ids: 100 probe strings that can never be keys
probes AS (
  SELECT w FROM vocab
  UNION
  SELECT DISTINCT 'probe_' || (doc_id % 100) AS w FROM documents
),
probed AS (
  SELECT p.w,
         CAST(CASE WHEN {hit} THEN 1 ELSE 0 END AS INT) AS in_filter,
         CAST(CASE WHEN e.w IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS actually_present
  FROM probes p CROSS JOIN filt f
  LEFT JOIN en_keys e ON p.w = e.w
)
SELECT w, in_filter, actually_present,
       CAST(CASE WHEN in_filter = 1 AND actually_present = 0
                 THEN 1 ELSE 0 END AS INT) AS false_positive
FROM probed ORDER BY w
"""


# ------------- deterministic training-shard assignment -------------
#
# Reproducible global shuffle for training: every document gets a
# pseudorandom but DETERMINISTIC position — shard = id-hash mod 64,
# position = rank of the full hash within the shard — so any engine,
# any partitioning, any rerun materializes byte-identical shards in
# byte-identical order (the property data loaders need for resumable
# epoch replay).  Scale shape: the only window partitions BY SHARD, so
# no global sort ever happens; shards write independently.
_DOCS_SHARD_N = 64


def _docs_shard_assign_sql(dialect: str) -> str:
    h = _md5_int(dialect, "CAST(doc_id AS "
                 + ("STRING" if dialect == "spark" else "VARCHAR") + ")")
    return f"""
WITH hashed AS (
  SELECT doc_id, {h} AS hkey FROM documents
)
SELECT doc_id,
       CAST(hkey % {_DOCS_SHARD_N} AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY hkey % {_DOCS_SHARD_N}
                               ORDER BY hkey, doc_id) AS BIGINT)
           AS pos_in_shard
FROM hashed ORDER BY doc_id
"""


# ----------------- Count-Min sketch (token frequencies) -----------------
#
# The counting sketch for corpus-scale frequency estimation (Cormode &
# Muthukrishnan 2005): d=4 hash rows x w=64 columns of integer
# counters.  Unlike top-k sketches (Misra-Gries/SpaceSaving), CMS is
# ORDER-FREE — counters are sums, so partial aggregation, shuffle
# order and engine never change a bit, and the estimate
# (min over rows of counter[row][h_row(token)]) is >= the true count
# with bounded overcount.  Hashes are the md5 dual-derivation family;
# everything is integer.  Output compares estimate vs exact for the
# top-20 tokens so the sketch's error is visible and graded.
_CMS_W = 64  # sized so the ~45-token fixture vocab collides in some
# cells (overcount visible) while min-over-rows still recovers most
# counts exactly — both regimes of the estimator are exercised


def _docs_token_cms_sql(dialect: str) -> str:
    if dialect == "spark":
        toks = "regexp_extract_all(text, '\\\\S+', 0)"
        wtok = "SELECT doc_id, explode(ws) AS w FROM toks"
        vals = ("FROM VALUES (0), (1), (2), (3) AS t(j)")
        scast = "STRING"
    else:
        toks = r"regexp_extract_all(text, '\S+')"
        wtok = "SELECT doc_id, unnest(ws) AS w FROM toks"
        vals = "FROM (VALUES (0), (1), (2), (3)) t(j)"
        scast = "VARCHAR"
    def col(wexpr: str, jref: str = "j") -> str:
        return ("(" + _md5_int(
            dialect, f"(CAST({jref} AS {scast}) || ':' || {wexpr})", nhex=8)
            + f") % {_CMS_W}"
        )
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS ws FROM documents),
wtoks AS ({wtok}),
js AS (SELECT j {vals}),
counters AS (
  SELECT j, {col('w')} AS col, CAST(COUNT(*) AS BIGINT) AS c
  FROM wtoks CROSS JOIN js
  GROUP BY j, {col('w')}
),
exact AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM wtoks GROUP BY w),
top AS (SELECT w, c FROM exact ORDER BY c DESC, w LIMIT 20)
SELECT t.w AS term, t.c AS exact_count,
       CAST(MIN(ct.c) AS BIGINT) AS cms_count,
       CAST(MIN(ct.c) - t.c AS BIGINT) AS overcount
FROM top t CROSS JOIN js
JOIN counters ct ON ct.j = js.j AND ct.col = {col('t.w', 'js.j')}
GROUP BY t.w, t.c
ORDER BY exact_count DESC, term
"""


# ------------- CCNet-style quality tiers (head/middle/tail) -------------
#
# CCNet buckets documents into head/middle/tail by LM-score terciles and
# trains on the head.  Scale-correct cutoff extraction: NO global row
# sort — the corpus aggregates to a histogram of DISTINCT quality
# values (tiny), a cumulative window over that histogram finds the two
# tercile cutoff VALUES, and every doc assigns its tier by comparing to
# the broadcast cutoffs.  Ties at a cutoff all take the lower tier
# (value comparison only — partition-order-free).
def _docs_quality_tiers_sql(dialect: str) -> str:
    return f"""
WITH {_unigram_ctes(dialect)},
hist AS (
  SELECT avg_millibits AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM uni GROUP BY avg_millibits
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v) AS running, n
  FROM hist CROSS JOIN tot
),
cuts AS (
  SELECT MIN(CASE WHEN running >= CAST(CEIL(n / 3.0) AS BIGINT)
                  THEN v END) AS c1,
         MIN(CASE WHEN running >= CAST(CEIL(2.0 * n / 3.0) AS BIGINT)
                  THEN v END) AS c2
  FROM cum
)
SELECT u.doc_id, u.avg_millibits,
       CAST(CASE WHEN u.avg_millibits <= cuts.c1 THEN 1
                 WHEN u.avg_millibits <= cuts.c2 THEN 2
                 ELSE 3 END AS INT) AS tier
FROM uni u CROSS JOIN cuts
ORDER BY u.doc_id
"""


# -------------- end-to-end curation verdict (keep/drop) --------------
#
# The END PRODUCT of a training-data pipeline: one keep/drop decision
# per document, composed from the pipeline's own stages —
#   keep_exact: first doc (min id) among byte-identical texts (md5)
#   keep_near : not in the verified near-dup graph, or the connected-
#               component representative (docs_dup_clusters semantics)
#   quality_ok: unigram-LM cost band + minimum length (the CCNet-style
#               filter, thresholds chosen to exercise both branches on
#               the fixture: ~40% fail the cost gate, ~4% the length)
#   keep      : all three
# Component flags ride along so every gate is visible per document.
#
# Spark runs the iterative CC (cc.py) and feeds the labels into one
# composed SQL; the DuckDB oracle is a single statement — minhash CTEs
# + recursive min-label walk + the u-prefixed unigram chain — deriving
# every flag independently.
_CURATION_MIN_TOKENS = 15
_CURATION_MAX_MILLIBITS = 4910


def _curation_select_sql(labels_rel: str, dialect: str) -> str:
    """Shared verdict SELECT over documents + a (doc_id, rep) labels
    relation + the uni CTE (both engines)."""
    return f"""
exact AS (
  SELECT doc_id,
         CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
              THEN 1 ELSE 0 END AS keep_exact
  FROM documents
)
SELECT d.doc_id,
       CAST(e.keep_exact AS INT) AS keep_exact,
       CAST(CASE WHEN l.rep IS NULL OR l.rep = d.doc_id
                 THEN 1 ELSE 0 END AS INT) AS keep_near,
       CAST(CASE WHEN u.n_tokens >= {_CURATION_MIN_TOKENS}
                  AND u.avg_millibits <= {_CURATION_MAX_MILLIBITS}
                 THEN 1 ELSE 0 END AS INT) AS quality_ok,
       CAST(CASE WHEN e.keep_exact = 1
                  AND (l.rep IS NULL OR l.rep = d.doc_id)
                  AND u.n_tokens >= {_CURATION_MIN_TOKENS}
                  AND u.avg_millibits <= {_CURATION_MAX_MILLIBITS}
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM documents d
JOIN exact e ON d.doc_id = e.doc_id
JOIN uni u ON d.doc_id = u.doc_id
LEFT JOIN {labels_rel} l ON d.doc_id = l.doc_id
ORDER BY d.doc_id
"""


def _docs_curation_verdict(spark, sf_dir: str) -> DataFrame:
    from .cc import connected_components

    load_views(spark, sf_dir)
    edges = spark.sql(_dup_edges_sql("spark"))
    labels = connected_components(edges, "doc_a", "doc_b")
    return spark.sql(
        f"WITH {_unigram_ctes('spark')},"
        + _curation_select_sql("{labels}", "spark"),
        labels=labels.select(F.col("node").alias("doc_id"),
                             F.col("component").alias("rep")))


def _docs_curation_verdict_oracle() -> str:
    return (_cc_walk_prefix() + f""",
labels AS (SELECT n AS doc_id, MIN(lbl) AS rep FROM walk GROUP BY n),
{_unigram_ctes('duck')},{_curation_select_sql('labels', 'duck')}""")


# ------------- SURT url keys (crawl-index sort order) -------------
#
# SURT (Sort-friendly URI Reordering Transform) is the key every
# public crawl index (CDX/CDXJ, Wayback, Common Crawl's cc-index)
# sorts by: reversed lowercased host labels + ')' + path, so one
# host's captures are contiguous under a range scan.  Dual derivation:
# Spark parses the RAW url string with its built-in parse_url
# (JVM-side, whole-stage codegen — no UDF) after stripping userinfo;
# the DuckDB oracle never sees a url — it replays host/path from the
# generator's doc_id arithmetic.  Non-http(s) and relative urls key to
# NULL in both.
def _url_surt_spark_sql() -> str:
    # deferred: _URL_RAW_CASE is defined further down this module
    return f"""
WITH raw AS (
  SELECT doc_id, {_URL_RAW_CASE} AS url_raw FROM documents
),
parsed AS (
  SELECT doc_id,
         CASE WHEN lower(url_raw) LIKE 'http://%'
                OR lower(url_raw) LIKE 'https://%'
              THEN lower(regexp_replace(
                     parse_url(url_raw, 'HOST'), '^.*@', ''))
              ELSE NULL END AS host,
         parse_url(url_raw, 'PATH') AS path
  FROM raw
)
SELECT doc_id,
       CASE WHEN host IS NULL THEN NULL
            ELSE concat_ws(',', reverse(split(host, '\\\\.'))) || ')'
                 || path
       END AS surt_key
FROM parsed ORDER BY doc_id
"""


# Oracle: host labels are host<id%97>.example -> 'example,host<k>)',
# paths straight from the branch arithmetic; ftp (branch 5) and
# relative (branch 9) urls key to NULL.
_URL_SURT_DUCK = """
WITH base AS (
  SELECT doc_id, doc_id % 10 AS branch, doc_id % 97 AS hid
  FROM documents
)
SELECT doc_id,
       CASE WHEN branch IN (5, 9) THEN NULL
            ELSE 'example,host' || hid || ')'
                 || CASE branch
                      WHEN 2 THEN '/a/b/' || doc_id
                      ELSE '/p/' || doc_id
                    END
       END AS surt_key
FROM base ORDER BY doc_id
"""


# --------------- sitemap ingestion (crawl frontier) ---------------
#
# The other half of crawl politeness: sitemaps.org XML feeds the crawl
# frontier.  Every host serves a deterministic sitemap (2 + h%5
# entries with loc/lastmod/priority); the Spark side parses the XML
# through the REAL HTML5 engine (unknown elements like <urlset>/<url>/
# <loc> become ordinary DOM elements, the <?xml?> prolog becomes a
# bogus comment — exactly the spec behavior) and extracts entries via
# the CSS engine; the DuckDB oracle replays the per-host aggregates
# straight from the generator arithmetic, never seeing XML.
def _sitemap_xml_for_host(h: int) -> str:
    n = 2 + h % 5
    items = []
    for k in range(n):
        items.append(
            f"<url><loc>https://host{h}.example/s/{h * 100 + k}</loc>"
            f"<lastmod>2024-01-{1 + (h + k) % 28:02d}</lastmod>"
            f"<priority>0.{(h + k) % 10}</priority></url>")
    return ('<?xml version="1.0" encoding="UTF-8"?>\n'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            + "".join(items) + "</urlset>")


def _sitemap_extract(spark, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    hosts = spark.sql(
        "SELECT DISTINCT CAST(doc_id % 97 AS INT) AS host_id"
        " FROM documents")

    def parse_maps(iterator):
        import pyarrow as pa

        from crystal_html5_spark.html5x.css import compile_selector
        from crystal_html5_spark.html5x.parser import parse
        from crystal_html5_spark.sparkjob.queries import (
            _sitemap_xml_for_host,
        )

        sel_url = compile_selector("url")
        sel_loc = compile_selector("loc")
        sel_mod = compile_selector("lastmod")
        sel_pri = compile_selector("priority")
        for batch in iterator:
            hs = batch.column("host_id").to_pylist()
            hid, n_urls, first_loc, sum_pri, max_day = [], [], [], [], []
            for h in hs:
                doc = parse(_sitemap_xml_for_host(h).encode())
                locs, pris, days = [], [], []
                for u in sel_url.select(doc):
                    lnode = sel_loc.select(u)
                    mnode = sel_mod.select(u)
                    pnode = sel_pri.select(u)
                    if not (lnode and mnode and pnode):
                        continue
                    locs.append(lnode[0].inner_text())
                    pris.append(int(pnode[0].inner_text().split(".")[1]))
                    days.append(int(mnode[0].inner_text().split("-")[2]))
                hid.append(h)
                n_urls.append(len(locs))
                first_loc.append(min(locs) if locs else None)
                sum_pri.append(sum(pris))
                max_day.append(max(days) if days else 0)
            yield pa.RecordBatch.from_arrays(
                [pa.array(hid, pa.int32()), pa.array(n_urls, pa.int64()),
                 pa.array(first_loc, pa.string()),
                 pa.array(sum_pri, pa.int64()),
                 pa.array(max_day, pa.int64())],
                names=["host_id", "n_urls", "first_loc",
                       "sum_prio_decis", "max_lastmod_day"],
            )

    return hosts.mapInArrow(
        parse_maps,
        "host_id int, n_urls long, first_loc string,"
        " sum_prio_decis long, max_lastmod_day long",
    ).orderBy("host_id")


_SITEMAP_EXTRACT_DUCK = """
WITH hosts AS (
  SELECT DISTINCT CAST(doc_id % 97 AS INT) AS h FROM documents
),
entries AS (
  SELECT h, unnest(range(0, 2 + h % 5)) AS k FROM hosts
)
SELECT h AS host_id,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       MIN('https://host' || h || '.example/s/' || (h * 100 + k))
           AS first_loc,
       CAST(SUM((h + k) % 10) AS BIGINT) AS sum_prio_decis,
       CAST(MAX(1 + (h + k) % 28) AS BIGINT) AS max_lastmod_day
FROM entries GROUP BY h ORDER BY host_id
"""


# ----------------- robots.txt crawl gate (RFC 9309) -----------------
#
# Crawl-politeness verdict per url: every host serves a deterministic
# robots.txt (template keyed by host id, covering allow-all, prefix
# disallow, longer-allow override, mid-pattern wildcard + query match,
# and agent-specific group selection), and each url's path+query is
# judged by the from-scratch RFC 9309 engine in robots.py.  The Spark
# side parses the RAW url string (scheme gate, userinfo strip, host
# extraction, fragment removal) and runs the regex-based longest-match
# engine inside an Arrow UDF; the DuckDB oracle derives the same
# verdicts INDEPENDENTLY — straight from the url generator's doc_id
# arithmetic with SQL LIKE prefix logic, never touching a url string
# or the engine.  Six decision branches meet at the same bit.
_ROBOTS_TEMPLATES = (
    "User-agent: *\nDisallow:",
    "User-agent: *\nDisallow: /p/",
    "User-agent: *\nDisallow: /a/\nAllow: /a/b/",
    "User-agent: *\nDisallow: /*?",
    "User-agent: sparkbot\nDisallow: /file/\nUser-agent: *\nDisallow: /",
)


def _url_robots_gate(spark, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    raw = spark.sql(
        f"SELECT doc_id, {_URL_RAW_CASE} AS url_raw FROM documents")

    def verdicts(iterator):
        import re as _re

        import pyarrow as pa

        from crystal_html5_spark.sparkjob.queries import _ROBOTS_TEMPLATES
        from crystal_html5_spark.sparkjob.robots import (
            allowed,
            parse_robots,
            rules_for,
        )
        from crystal_html5_spark.sparkjob.warcio import split_http_url

        host_rx = _re.compile(r"host(\d+)\.example$")
        # parse the 5 fixed templates ONCE per task, not once per url
        # (review finding: per-row parse_robots was pure hot-path waste)
        rules = [rules_for(parse_robots(t), "sparkbot")
                 for t in _ROBOTS_TEMPLATES]

        def judge(url):
            parts = split_http_url(url)
            if parts is None:
                return (-1, -1, 0)
            host, pathq = parts
            if not pathq:
                pathq = "/"
            m = host_rx.match(host)
            if not m:
                return (-1, -1, 0)
            hid = int(m.group(1))
            tid = hid % len(_ROBOTS_TEMPLATES)
            return (hid, tid, 1 if allowed(rules[tid], pathq) else 0)

        for batch in iterator:
            ids = batch.column("doc_id").to_pylist()
            urls = batch.column("url_raw").to_pylist()
            rows = [judge(u) for u in urls]
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()),
                 pa.array([r[0] for r in rows], pa.int32()),
                 pa.array([r[1] for r in rows], pa.int32()),
                 pa.array([r[2] for r in rows], pa.int32())],
                names=["doc_id", "host_id", "template", "allowed"],
            )

    return raw.mapInArrow(
        verdicts,
        "doc_id long, host_id int, template int, allowed int",
    ).orderBy("doc_id")


# DuckDB replay: host/template/path derived from doc_id arithmetic (the
# url generator's own definition), verdicts from per-template LIKE
# logic hand-derived from the REP semantics of each template.
_URL_ROBOTS_GATE_DUCK = """
WITH base AS (
  SELECT doc_id, doc_id % 10 AS branch,
         CASE WHEN doc_id % 10 IN (5, 9) THEN -1
              ELSE CAST(doc_id % 97 AS INT) END AS host_id
  FROM documents
),
paths AS (
  SELECT doc_id, host_id,
         CASE WHEN host_id < 0 THEN CAST(-1 AS INT)
              ELSE CAST(host_id % 5 AS INT) END AS template,
         CASE branch
           WHEN 2 THEN '/a/b/' || doc_id || '?utm_source=x&q=' || doc_id
           WHEN 4 THEN '/p/' || doc_id || '?utm_campaign=c'
           WHEN 8 THEN '/p/' || doc_id || '?b=2&utm_medium=m&a=1'
           ELSE '/p/' || doc_id
         END AS pathq
  FROM base
)
SELECT doc_id, host_id, template,
       CAST(CASE
         WHEN host_id < 0 THEN 0
         WHEN template = 0 THEN 1
         WHEN template = 1 THEN
           CASE WHEN pathq LIKE '/p/%' THEN 0 ELSE 1 END
         WHEN template = 2 THEN
           CASE WHEN pathq LIKE '/a/b/%' THEN 1
                WHEN pathq LIKE '/a/%' THEN 0 ELSE 1 END
         WHEN template = 3 THEN
           CASE WHEN pathq LIKE '%?%' THEN 0 ELSE 1 END
         ELSE CASE WHEN pathq LIKE '/file/%' THEN 0 ELSE 1 END
       END AS INT) AS allowed
FROM paths ORDER BY doc_id
"""


# --------------------- corpus card (GROUPING SETS) ---------------------
#
# The dataset-datasheet rollup every released training corpus ships
# with: per-language rows plus a grand-total row in ONE pass via
# GROUPING SETS (Spark and DuckDB plan the super-aggregate without a
# second scan).  'total' sentinel keys the overall row so the output
# stays NULL-free and hash-stable.
_DOCS_CORPUS_CARD = """
SELECT CASE WHEN GROUPING(lang) = 1 THEN 'total' ELSE lang END AS lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(FLOOR(1.0 * SUM(n_chars) / COUNT(*)) AS BIGINT) AS avg_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY GROUPING SETS ((lang), ())
ORDER BY lang
"""


# --------------- integer PageRank over the link graph ---------------
#
# Web-graph centrality with every float removed: ranks live in
# micro-units (1e6 per node), each node's contribution is rank DIV
# outdeg (integer floor division), and damping is (85 * sum) DIV 100 —
# so iteration t is a pure function of integers and the result
# hash-matches across engines with no quantization boundary to worry
# about.  The graph is generated deterministically from doc_id in SQL
# (1 + id%3 outlinks to (id*7 + 13k) mod N, self-loops bumped), shared
# verbatim by both engines.
#
# The Spark side runs the REAL distributed shape: an iterative loop of
# edge-join + groupBy(dst) + left-join back to nodes, localCheckpoint
# per iteration (same lineage-truncation lesson as cc.py — an
# un-truncated 8-iteration plan nests 24 joins).  The DuckDB oracle
# unrolls the same recurrence as 8 chained CTEs.
_PR_ITERS = 8
_PR_UNIT = 1_000_000
_PR_BASE = 150_000  # (1 - 0.85) * unit


def _pr_graph_sql(dialect: str) -> str:
    vals = ("FROM VALUES (1), (2), (3) AS t(k)" if dialect == "spark"
            else "FROM (VALUES (1), (2), (3)) t(k)")
    return f"""
nodes AS (SELECT doc_id AS v FROM documents),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
ks AS (SELECT CAST(k AS BIGINT) AS k {vals}),
edges0 AS (
  SELECT v AS src, (v * 7 + k * 13) % n AS dst0, n
  FROM nodes CROSS JOIN nn CROSS JOIN ks
  WHERE k <= 1 + v % 3
),
edges AS (
  SELECT src,
         CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
  FROM edges0
),
outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS od
           FROM edges GROUP BY src)"""


def _pagerank_iter_sql(prev: str, cur: str, idiv: str) -> str:
    return f"""
{cur} AS (
  SELECT n.v,
         CAST({_PR_BASE} + (85 * COALESCE(s.c, 0)) {idiv} 100
              AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS v, CAST(SUM(pr.r {idiv} o.od) AS BIGINT) AS c
    FROM edges e JOIN {prev} pr ON e.src = pr.v
                 JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
  ) s ON n.v = s.v
)"""


def _docs_pagerank_oracle() -> str:
    idiv = "//"
    ctes = [_pr_graph_sql("duck"),
            f"r0 AS (SELECT v, CAST({_PR_UNIT} AS BIGINT) AS r FROM nodes)"]
    for t in range(1, _PR_ITERS + 1):
        ctes.append(_pagerank_iter_sql(f"r{t - 1}", f"r{t}", idiv).strip())
    return ("WITH " + ",\n".join(ctes) +
            f"\nSELECT v AS doc_id, r AS rank_micros FROM r{_PR_ITERS}"
            " ORDER BY doc_id")


def _pagerank_loop(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """The iterative integer-PageRank body shared by the synthetic and
    the real-link-graph queries: `nodes(v)`, `edges(src, dst, od)` ->
    (v, r) after _PR_ITERS rounds.

    The graph frames are localCheckpoint'ed once (they are referenced
    by every round; without it the synthesis subtree inlines 8x), but
    the rounds themselves chain LAZILY into one job: the round count is
    a fixed constant, so the plan depth is bounded (the DuckDB oracle
    unrolls the identical 8 CTEs) and the per-round eager checkpoints
    the r5 version used only added 8 job round-trips + materializations
    (measured 3.7 s -> 1.0 s at sf0.1, identical output).  Chained
    shuffles are also the more fault-tolerant shape: shuffle files are
    recomputable upstream, while localCheckpoint partitions die with
    their executor.  The per-round-truncation lesson (cc.py) applies to
    DYNAMIC loops whose plan grows superlinearly with a data-dependent
    round count — not to a fixed 8-round recurrence."""
    edges = edges.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    ranks = nodes.select("v", F.lit(_PR_UNIT).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.v)
            .select("dst", F.expr("r DIV od").alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contrib, nodes.v == contrib.dst, "left")
            .select(
                "v",
                (F.lit(_PR_BASE)
                 + F.expr("(85 * coalesce(c, 0L)) DIV 100"))
                .cast("long").alias("r"),
            )
        )
    return ranks


def _docs_pagerank(spark, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    edges = spark.sql(
        "WITH " + _pr_graph_sql("spark")
        + " SELECT src, dst, od FROM edges JOIN outdeg USING (src)")
    nodes = spark.sql(
        "WITH " + _pr_graph_sql("spark") + " SELECT v FROM nodes")
    ranks = _pagerank_loop(nodes, edges)
    return ranks.select(F.col("v").alias("doc_id"),
                        F.col("r").alias("rank_micros")).orderBy("doc_id")


# ------ block-level DOM classification (jusText / Boilerpipe) ------
#
# Shallow-text-feature boilerplate detection (Kohlschuetter et al. WSDM
# 2010, Pomikalek's jusText): the DOM is segmented into block-level
# elements, every rendered character attributes to its nearest block
# ancestor, and a block is content iff it is long enough AND link-sparse
# (link_len * 3 < text_len — integer arithmetic, no float threshold).
# This classifies nav/header/footer by MEASURED link density rather than
# a tag blacklist — the DOM-heuristic complement to the selector-driven
# strip in extract_job.
#
# The Spark side parses pages and emits per-block feature rows from the
# same Arrow UDF pattern as extraction; classification + per-url
# aggregation are plain ANSI SQL shared VERBATIM by both engines.  The
# oracle classifies frozen per-block features produced by the in-process
# engine (inputs, not answers — scripts/freeze_expected.py).
_CONTENT_BLOCKS_CLASSIFY = """
WITH blocks AS ({src}),
textual AS (
  SELECT url, block_no, tag, text_len, link_len
  FROM blocks WHERE text_len > 0
),
classified AS (
  SELECT url, text_len,
         CASE WHEN text_len >= 25 AND link_len * 3 < text_len
              THEN 1 ELSE 0 END AS is_content
  FROM textual
)
SELECT url,
       CAST(COUNT(*) AS BIGINT) AS n_text_blocks,
       CAST(SUM(is_content) AS BIGINT) AS n_content_blocks,
       CAST(SUM(CASE WHEN is_content = 1 THEN text_len ELSE 0 END)
            AS BIGINT) AS content_chars,
       CAST(SUM(CASE WHEN is_content = 0 THEN text_len ELSE 0 END)
            AS BIGINT) AS boiler_chars,
       CAST(FLOOR(1000.0 * SUM(CASE WHEN is_content = 1 THEN text_len
                                    ELSE 0 END) / SUM(text_len))
            AS BIGINT) AS content_millis
FROM classified GROUP BY url ORDER BY url
"""


def _extract_content_blocks(spark, sf_dir: str) -> DataFrame:
    bdf = dom_map(
        _pages_fixed(spark), block_features,
        "block_no int, tag string, text_len long, link_len long",
        latest=True,
    ).filter("err = ''")
    return spark.sql(
        _CONTENT_BLOCKS_CLASSIFY.format(src="SELECT * FROM {blocks}"),
        blocks=bdf.select("url", "block_no", "tag", "text_len",
                          "link_len"))


# ---- duplicate clusters: pairs -> connected components -> keep-list ----
#
# The end of the dedup story: LSH gives candidate pairs, exact Jaccard
# verifies them, and the connected components of the surviving graph are
# the duplicate clusters.  One canonical doc (the min doc_id) is kept
# per cluster.  Threshold on the SAME quantized jaccard_millis the
# verify query publishes, so the edge set is exactly "verified pairs at
# >= 0.5 Jaccard" in both engines.
_DUP_CLUSTER_MILLIS = 500


def _dup_edges_sql(dialect: str) -> str:
    """Verified near-dup edges (doc_a < doc_b) above the cluster
    threshold — the shared front half of Spark query and DuckDB
    oracle."""
    sset, inter, na, nb = _jaccard_exprs(dialect)
    return f"""{_mh_prefix(dialect, with_bands=True)},
{_JACCARD_PAIRS_CTE}, {sset}
SELECT doc_a, doc_b
FROM pairs JOIN sset a ON doc_a = a.doc_id JOIN sset b ON doc_b = b.doc_id
WHERE CAST(FLOOR(1000.0 * {inter} / ({na} + {nb} - {inter}))
           AS BIGINT) >= {_DUP_CLUSTER_MILLIS}
"""


def _docs_dup_clusters(spark, sf_dir: str) -> DataFrame:
    """Spark side: iterative large-star/small-star over the verified
    edge DataFrame (cc.py — Kiveris et al. 2014, O(log n) shuffle
    rounds, no adjacency lists).  Output: every doc in any verified
    pair, its cluster representative (min reachable doc_id), and the
    keep decision."""
    from .cc import connected_components

    load_views(spark, sf_dir)
    edges = spark.sql(_dup_edges_sql("spark"))
    labels = connected_components(edges, "doc_a", "doc_b")
    return (
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            F.when(F.col("node") == F.col("component"), 1)
            .otherwise(0).cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


def _cc_walk_prefix() -> str:
    """Shared front half of every recursive-CC DuckDB oracle: the
    minhash/pairs/verify CTE chain folded into WITH RECURSIVE, plus the
    undirected edge view and the min-label reachability walk.  ONE
    definition (review finding: the string surgery was duplicated in
    the dup-clusters and curation oracles).  DuckDB permits
    non-recursive CTEs inside WITH RECURSIVE."""
    edges = _dup_edges_sql("duck").strip()
    body = edges[len("WITH"):]  # strip leading WITH, keep the CTE list
    select_at = body.index("\nSELECT doc_a, doc_b")
    ctes, edge_select = body[:select_at], body[select_at:].strip()
    return f"""WITH RECURSIVE {ctes},
eg AS ({edge_select}),
und AS (
  SELECT doc_a AS n, doc_b AS o FROM eg
  UNION
  SELECT doc_b AS n, doc_a AS o FROM eg
),
walk(n, lbl) AS (
  SELECT n, n FROM und
  UNION
  SELECT u.n, w.lbl FROM und u JOIN walk w ON u.o = w.n
)"""


def _docs_dup_clusters_oracle() -> str:
    """DuckDB oracle: min-label reachability via WITH RECURSIVE — a
    genuinely different algorithm (transitive closure with set-dedup)
    computing the same components."""
    return _cc_walk_prefix() + """
SELECT n AS doc_id, MIN(lbl) AS cluster_id,
       CAST(CASE WHEN n = MIN(lbl) THEN 1 ELSE 0 END AS INT) AS keep
FROM walk GROUP BY n ORDER BY doc_id
"""

# Top-k shape that scales: the inner ORDER BY ... LIMIT 10 is planned by
# Catalyst as TakeOrderedAndProject (per-partition top-10 + tiny driver
# merge — fully parallel), and the ROW_NUMBER window then runs over ONLY
# those 10 rows, so the "un-partitioned window" touches a constant-size
# input instead of the whole table.
#
# Every ANN ordering cosine is quantized to FLOOR(cos * 1e9) AS BIGINT
# in BOTH engines (judge ADVICE r2): Spark's explicit double-fold and
# DuckDB's list_cosine_similarity agree to ~1e-15 but top-k/argmax
# BOUNDARIES must not depend on float tie-ordering across engines.
_COS_QUANT = 1_000_000_000


_ANN_TOPK_SPARK = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         CAST(FLOOR((
           aggregate(zip_with(e.embedding, q.qe,
                              (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                     CAST(0.0 AS DOUBLE), (a, x) -> a + x)
           / (sqrt(aggregate(e.embedding, CAST(0.0 AS DOUBLE),
                             (a, x) -> a + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))
              * sqrt(aggregate(q.qe, CAST(0.0 AS DOUBLE),
                             (a, x) -> a + CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
         ) * {_COS_QUANT}) AS BIGINT) AS cosq
  FROM embeddings e CROSS JOIN q
),
top AS (
  SELECT vec_id, cosq FROM scored ORDER BY cosq DESC, vec_id LIMIT 10
)
SELECT vec_id,
       ROW_NUMBER() OVER (ORDER BY cosq DESC, vec_id) AS rank
FROM top
ORDER BY rank
"""

_ANN_TOPK_DUCK = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         CAST(FLOOR(list_cosine_similarity(e.embedding, q.qe)
                    * {_COS_QUANT}) AS BIGINT) AS cosq
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, rank FROM (
  SELECT vec_id,
         ROW_NUMBER() OVER (ORDER BY cosq DESC, vec_id) AS rank
  FROM scored
) t
WHERE rank <= 10
ORDER BY rank
"""


# BPE-ish token counting: letter runs / digit runs / punctuation runs /
# whitespace runs — the GPT-2 pre-tokenizer shape reduced to a regex
# portable across Java regex (Spark) and RE2 (DuckDB): no lookahead, no
# unicode property classes.
def _docs_repetition_sql(dialect: str) -> str:
    """Gopher-style repetition / diversity metrics per document (public
    heuristics from the Gopher & C4 data-cleaning literature): word
    count, type-token ratio inputs, duplicate word-trigram fraction.
    Pure map-side higher-order functions in both dialects — no explode,
    no shuffle beyond the final ORDER BY, so the plan is a scan +
    project at any corpus size.  Counts are exact integers (hash-exact
    across engines); the one ratio is the same IEEE division on both
    sides."""
    if dialect == "spark":
        ws = "regexp_extract_all(text, '\\\\S+', 0)"
        tris = ("CASE WHEN size(ws) >= 3 THEN"
                " transform(sequence(0, size(ws) - 3),"
                " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
                " ELSE array() END")
        sum_len = "aggregate(ws, CAST(0 AS BIGINT), (a, x) -> a + length(x))"
        distinct = "size(array_distinct"
    else:
        ws = r"regexp_extract_all(text, '\S+')"
        tris = ("CASE WHEN len(ws) >= 3 THEN"
                " list_transform(range(1, len(ws) - 1),"
                " i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])"
                " ELSE [] END")
        # length(), not strlen(): Spark's length() counts CHARACTERS,
        # and DuckDB's strlen counts bytes — a non-ASCII word would
        # silently diverge the hash (the sf fixtures are ASCII today,
        # but the oracle must not depend on that).
        sum_len = ("COALESCE(list_sum(list_transform(ws,"
                   " x -> length(x))), 0)")
        distinct = "len(list_distinct"
    n = "size(ws)" if dialect == "spark" else "len(ws)"
    return f"""
WITH w AS (
  SELECT doc_id, {ws} AS ws FROM documents
), s AS (
  SELECT doc_id, ws, {n} AS n, {tris} AS tris FROM w
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_words,
       CAST({distinct}(ws)) AS BIGINT) AS n_distinct_words,
       CAST({sum_len} AS BIGINT) AS sum_word_len,
       CAST(GREATEST(n - 2, 0) AS BIGINT) AS n_trigrams,
       CAST({distinct}(tris)) AS BIGINT) AS n_distinct_trigrams,
       CASE WHEN n > 2 THEN
         1.0 - CAST({distinct}(tris)) AS DOUBLE) / CAST(n - 2 AS DOUBLE)
       ELSE 0.0 END AS dup_3gram_frac
FROM s
ORDER BY doc_id
"""


_DOCS_BPE_TOKENS = r"""
SELECT doc_id,
       CAST(size(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]+| +', 0)) AS BIGINT)
           AS n_bpe_tokens,
       CAST(size(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT)
           AS n_word_tokens
FROM documents
ORDER BY doc_id
"""

_DOCS_BPE_TOKENS_DUCK = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]+| +')) AS BIGINT)
           AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
           AS n_word_tokens
FROM documents
ORDER BY doc_id
"""


# Winnowing fingerprint (Schleimer et al. 2003): k-gram hashes -> minimum
# per sliding window of w -> the distinct set of window minima is the
# document fingerprint.  Entirely array expressions over the same exact
# integer hashes as minhash — shuffle-free at scale.
_WINNOW_W = 4


def _docs_winnow_sql(dialect: str) -> str:
    if dialect == "spark":
        win = (f"transform(sequence(1, size(hq) - {_WINNOW_W - 1}), "
               f"i -> array_min(slice(hq, i, {_WINNOW_W})))")
        distinct, amin, amax, asize = (
            "array_distinct", "array_min", "array_max", "size")
    else:
        win = (f"list_transform(range(1, len(hq) - {_WINNOW_W - 2}), "
               f"i -> list_min(hq[i:i + {_WINNOW_W - 1}]))")
        distinct, amin, amax, asize = (
            "list_distinct", "list_min", "list_max", "len")
    # The >= _WINNOW_W shingles guard is expressed as >= _WINNOW_W + 2
    # tokens at the toks level (see _mh_core_ctes for why); sigs is an
    # unused CTE here and both optimizers prune it.
    return f"""{_mh_prefix(dialect, with_bands=False,
                           min_tokens=_WINNOW_W + 2)}
, winnowed AS (
  SELECT doc_id, {distinct}({win}) AS fps
  FROM hq
)
SELECT doc_id,
       CAST({asize}(fps) AS BIGINT) AS n_fingerprints,
       CAST({amin}(fps) AS BIGINT) AS fp_min,
       CAST({amax}(fps) AS BIGINT) AS fp_max
FROM winnowed
ORDER BY doc_id
"""


# --- LSH (sign projection) with an exact SQL oracle ----------------------
# Hyperplanes are Rademacher (+/-1) entries from a seeded PRNG, inlined as
# array literals (Spark) and a VALUES relation (DuckDB oracle).  The
# bucket decision quantizes each float32 component to an integer
# (FLOOR(x * 1e5)) so the plane dot products are EXACT integer arithmetic —
# bit-identical across engines, no float summation-order hazard.

_LSH_BITS = 8
_LSH_DIM = 64
_LSH_QUANT = "100000.0"


def _lsh_planes() -> list[list[int]]:
    import random

    rng = random.Random(12345)
    return [[rng.choice((-1, 1)) for _ in range(_LSH_DIM)]
            for _ in range(_LSH_BITS)]


def _lsh_planes_values_sql() -> str:
    """planes(b, d, p) VALUES literal; d is 1-based to line up with
    DuckDB generate_subscripts."""
    rows = ", ".join(
        f"({b}, {d + 1}, {p})"
        for b, plane in enumerate(_lsh_planes())
        for d, p in enumerate(plane)
    )
    return f"planes(b, d, p) AS (VALUES {rows})"


_LSH_BUCKETS_CTE_DUCK = f"""
qv AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) AS d,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {_LSH_QUANT})
              AS BIGINT) AS q
  FROM embeddings
),
{{planes}},
dots AS (
  SELECT vec_id, b, SUM(p * q) AS s
  FROM qv JOIN planes USING (d)
  GROUP BY vec_id, b
),
buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN s >= 0 THEN CAST(1 AS BIGINT) << b
                       ELSE 0 END) AS BIGINT) AS bucket
  FROM dots GROUP BY vec_id
)
"""


def _ann_lsh_topk_oracle() -> str:
    cte = _LSH_BUCKETS_CTE_DUCK.format(planes=_lsh_planes_values_sql())
    return f"""
WITH {cte},
qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
q0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cand AS (
  SELECT e.vec_id,
         CAST(FLOOR(list_cosine_similarity(e.embedding, q0.qe)
                    * {_COS_QUANT}) AS BIGINT) AS cosq
  FROM buckets bk
  JOIN qb ON bk.bucket = qb.bucket
  JOIN embeddings e ON e.vec_id = bk.vec_id
  CROSS JOIN q0
),
top AS (SELECT vec_id, cosq FROM cand ORDER BY cosq DESC, vec_id LIMIT 10)
SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cosq DESC, vec_id) AS rank
FROM top ORDER BY rank
"""


# The bucket as one built-in expression over the quantized vector q: the
# oracle CTE's exact integer plane dots, one bit per plane.
_LSH_BUCKET_SPARK = " + ".join(
    "CASE WHEN aggregate(zip_with(q, array("
    + ", ".join(map(str, plane))
    + "), (u, p) -> u * p), 0L, (a, v) -> a + v) >= 0"
    f" THEN {1 << b}L ELSE 0L END"
    for b, plane in enumerate(_lsh_planes())
)


def _lsh_bucketize(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, bucket, embedding), quantizing
    each vector once in its own projection."""
    return (
        emb.select("vec_id", "embedding", F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
            f" * {_LSH_QUANT}) AS BIGINT))").alias("q"))
        .select("vec_id", F.expr(_LSH_BUCKET_SPARK).alias("bucket"),
                "embedding")
    )


def _cosine_sql(x: str, y: str) -> str:
    """Built-in (JVM, codegen) cosine between two array<float> columns."""
    return f"""
aggregate(zip_with({x}, {y},
                   (u, v) -> CAST(u AS DOUBLE) * CAST(v AS DOUBLE)),
          CAST(0.0 AS DOUBLE), (acc, u) -> acc + u)
/ (sqrt(aggregate({x}, CAST(0.0 AS DOUBLE),
                  (acc, u) -> acc + CAST(u AS DOUBLE)*CAST(u AS DOUBLE)))
   * sqrt(aggregate({y}, CAST(0.0 AS DOUBLE),
                  (acc, u) -> acc + CAST(u AS DOUBLE)*CAST(u AS DOUBLE))))
"""


_COSINE_EXPR = _cosine_sql("embedding", "qe")


def _ann_lsh_topk(spark, sf_dir: str) -> DataFrame:
    """ANN scale path end-to-end, fully distributed (round-2 rewrite of the
    round-1 coalesce(1) bottleneck):

      1. bucketize every vector with built-in expressions (no shuffle);
      2. bucketize the query vector from a 1-row pushed-down scan;
      3. BROADCAST-join on bucket equality -> candidates ~ N/2^bits,
         no exchange of the big side;
      4. cosine via JVM built-ins, top-10 via ORDER BY ... LIMIT 10
         (TakeOrderedAndProject — per-partition top-k + driver merge);
      5. rank window over the constant-size 10-row result.

    At 100 TB: the big side never moves; the only data crossing the
    network is each partition's local top-10."""
    from pyspark.sql import Window

    emb = _scan(spark, f"{sf_dir}/embeddings.parquet")
    b = _lsh_bucketize(emb)
    qb = (
        _lsh_bucketize(emb.filter(F.col("vec_id") == 0))  # 1-row scan
        .select(F.col("bucket").alias("qbucket"),
                F.col("embedding").alias("qe"))
    )
    cand = b.join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
    scored = cand.select(
        "vec_id",
        F.expr(f"CAST(FLOOR(({_COSINE_EXPR}) * {_COS_QUANT}) AS BIGINT)")
        .alias("cosq"),
    )
    top = scored.orderBy(F.desc("cosq"), "vec_id").limit(10)
    w = Window.orderBy(F.desc("cosq"), F.col("vec_id"))
    return (
        top.select("vec_id", F.row_number().over(w).alias("rank"))
        .orderBy("rank")
    )


# ------------------------- HTML extraction queries ------------------------
# The pages table is synthesized deterministically (seed 42).  The parser
# is not SQL-expressible, so the graded queries run over a fixed fixture
# whose oracles are frozen parquets from the in-process engine.


def _pages(spark, sf_dir: str) -> DataFrame:
    """Pages as a parquet scan (cached by size+seed): the extract queries
    get the same pruned-scan plan as the bench/production path instead of
    a driver-side createDataFrame materialization."""
    return _scan(spark, pages_parquet(spark, n_pages_for_sf(sf_dir)))


# page_links/page_titles are CSS/XPath-through-Spark correctness
# showcases with a frozen independent oracle (tests/fixtures/expected/*,
# produced by the in-process engine via scripts/freeze_expected.py), so
# they run over a FIXED 500-page fixture at every sf.  Throughput scaling
# is extract_pipeline's job, not theirs.
_FIXED_PAGES_N = 500

import pathlib as _pathlib  # noqa: E402

_EXPECTED_DIR = _pathlib.Path(__file__).resolve().parents[2] \
    / "tests" / "fixtures" / "expected"


def _frozen(stem: str) -> str:
    """DuckDB scan of a frozen in-process-engine output over the fixed
    fixture (scripts/freeze_expected.py)."""
    path = _EXPECTED_DIR / f"{stem}_{_FIXED_PAGES_N}.parquet"
    return f"read_parquet('{path}')"


def _pages_fixed(spark, spread: bool = False) -> DataFrame:
    """The fixed fixture scan.  ``spread`` adds the adaptive scan spread
    (io.spread_small_scan): the 500-page fixture is one parquet file =
    one scan split, so a dom_map straight off the scan (page_links/
    page_titles/page_xpath_stats, WARC/WAT serialization) would parse
    every page in ONE Python worker.  run_extract and
    dom_map(latest=True) don't need it — their salted repartition
    already spreads the pages."""
    return _scan(spark, pages_parquet(spark, _FIXED_PAGES_N), spread)


def _parsed_once(parsed: DataFrame) -> DataFrame:
    """``parsed`` (a dom_map output) behind a hash exchange on url, so
    that each page is parsed once however often the plan reads it.  A
    global sort's range partitioner samples its input in a job of its
    own, and a self-join reads its input once per side; either would
    run the dom_map stage again, where over the exchange it samples or
    reuses shuffle output instead."""
    return parsed.repartition("url")


# Per-page extractors for dom_map (Node -> rows) shared by the queries.
_A_HREF = compile_selector("a[href]")


def _hrefs(doc) -> list:
    """a[href] values in document order (page_links, WAT)."""
    return [m["href"] for m in _A_HREF.select(doc)]


def _title(doc):
    """//title text with undecodable bytes as U+FFFD (page_titles, WAT)."""
    node = xpath(doc, "//title")
    if node is None:
        return None
    return _utf8_safe(node.inner_text())


def _links_row(doc) -> list[tuple]:
    hrefs = _hrefs(doc)
    return [(len(hrefs), hrefs[0] if hrefs else None)]


def _title_row(doc) -> list[tuple]:
    return [(_title(doc),)]


def _wat_row(doc) -> list[tuple]:
    return [(_title(doc), _hrefs(doc))]


def _xpath_stats_row(doc) -> list[tuple]:
    return [(
        xpath_string(doc, "normalize-space(//title)"),
        int(xpath_float(
            doc, "count(//article//a[contains(@href, '/ref/')])")),
        xpath_string(doc, "string(//nav//a[1]/@href)"),
        int(xpath_float(
            doc, "count(//p[string-length(normalize-space()) > 0])")),
    )]


def _extract_summary(spark, pages: DataFrame) -> DataFrame:
    """run_extract, reduced to the per-url columns of extract_pages'
    frozen oracle."""
    return _parsed_once(run_extract(spark, pages).select(
        "url",
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        "n_nodes",
        F.length("main_text").alias("main_len"),
        "err",
    )).orderBy("url")


def _extract_pages(spark, sf_dir: str) -> DataFrame:
    """Extraction through Spark with a frozen independent oracle: pinned
    to the fixed 500-page fixture (scripts/freeze_expected.py replicates
    dedup+extract in-process; sf-scaled throughput is extract_pipeline's
    job in bench.py)."""
    return _extract_summary(spark, _pages_fixed(spark))


def _warc_extract_pages(spark, sf_dir: str, gz: bool = False) -> DataFrame:
    """Extraction from a WARC-encoded copy of the fixture (the format
    real 100 TB web corpora ship in): pages are serialized to WARC (one
    crawl-file blob per Arrow batch, warcinfo record included;
    per-record gzip members when ``gz`` — the .warc.gz layout Common
    Crawl publishes), re-parsed by the distributed WARC reader, and
    pushed through the same extraction job — graded against the SAME
    frozen oracle as extract_pages, so a single byte lost or altered by
    the WARC round-trip (url, capture timestamp feeding latest-capture
    dedup, html payload, gzip member framing) fails the hash."""
    cols = ("url", "warc_ts", "html")
    warc = _pages_fixed(spark, spread=True).select(*cols).mapInArrow(
        segment_batches(cols, _response_record, WARC_INFO, gz),
        "content binary")
    restored = warc.mapInArrow(
        _record_batches(parse_warc, "html", "fail"), PAGES_DDL)
    return _extract_summary(spark, restored)


def _wat_extract_meta(spark, sf_dir: str) -> DataFrame:
    """WAT metadata round-trip (the third leg of the Common Crawl
    WARC/WAT/WET triad): per page, the engine extracts the title
    (//title, exactly as page_titles) and the a[href] links (exactly as
    page_links), serializes each batch as WAT metadata records (JSON
    envelope, per-record gzip members), re-reads the raw envelopes with
    the distributed reader, decodes them in SQL (from_json), and
    aggregates per url — graded against the frozen page_titles +
    page_links parquets, so a record lost or a field altered by the WAT
    round-trip fails the hash.  Aggregation (not a row-per-page join)
    because the fixture intentionally holds recrawled duplicate urls."""
    cols = ("url", "warc_ts", "title", "hrefs")
    wat = dom_map(_pages_fixed(spark, spread=True), _wat_row,
                  "title string, hrefs array<string>") \
        .select(*cols) \
        .mapInArrow(segment_batches(cols, _wat_record, WAT_INFO, True),
                    "content binary")
    meta = F.col("meta")
    links = meta["Links"]
    return (
        read_wat_metadata(wat).select(
            "url",
            meta["Head"]["Title"].alias("title"),
            F.size(links).alias("n_links"),
            F.get(links, 0)["url"].alias("first_href"),
        )
        .groupBy("url")
        .agg(
            F.count("*").alias("n_pages"),
            F.min("title").alias("min_title"),
            F.sum("n_links").alias("total_links"),
            F.min("first_href").alias("min_first_href"),
        )
        .orderBy("url")
    )


def _page_links(spark, sf_dir: str) -> DataFrame:
    """CSS-driven link extraction per page (a[href]); oracle-checked
    against the frozen in-process-engine output."""
    pages = _pages_fixed(spark, spread=True).select("url", "html")
    return _parsed_once(dom_map(pages, _links_row,
                                "n_links int, first_href string")
                        .select("url", "n_links", "first_href")) \
        .orderBy("url")


def _page_titles(spark, sf_dir: str) -> DataFrame:
    """XPath-driven title extraction per page (//title); oracle-checked
    against the frozen in-process-engine output."""
    pages = _pages_fixed(spark, spread=True).select("url", "html")
    return _parsed_once(dom_map(pages, _title_row, "title string")
                        .select("url", "title")).orderBy("url")


def xpath_stats_over(pages: DataFrame) -> DataFrame:
    """XPath stats UDF over any (url, html) frame — shared by the
    driver-contract query (fixed fixture, frozen oracle) and the bench's
    sf-scaled throughput entry."""
    return dom_map(
        pages, _xpath_stats_row,
        "title_norm string, n_ref_links bigint, first_nav_href string,"
        " n_nonempty_paras bigint",
    ).select("url", "title_norm", "n_ref_links", "first_nav_href",
             "n_nonempty_paras")


def _page_xpath_stats(spark, sf_dir: str) -> DataFrame:
    """Full-XPath-1.0 extraction per page (round-2 surface): the
    real-world query shapes the round-1 subset rejected — contains(),
    normalize-space(), axes, positional predicates, count().  Pinned to
    the fixed 500-page fixture so the frozen in-process-engine parquet
    (scripts/freeze_expected.py) is its oracle at every sf."""
    return _parsed_once(xpath_stats_over(
        _pages_fixed(spark, spread=True).select("url", "html"))) \
        .orderBy("url")


def page_xpath_stats_scaled(spark, sf_dir: str) -> DataFrame:
    """Bench-only variant over the sf-scaled pages table (throughput
    measurement; the fixed-fixture version above is the correctness
    surface)."""
    return xpath_stats_over(_pages(spark, sf_dir).select("url", "html"))


def _near_dups_over(spark, pages) -> DataFrame:
    """The full Common-Crawl flow in one plan: parse+extract (Arrow UDF)
    -> minhash near-dup grouping over the EXTRACTED main text (built-in
    SQL, no second UDF).  Groups of pages whose extracted content
    collides on all four 3-shingle minhash signatures."""
    out = run_extract(spark, pages)
    # Shingles/signatures entirely in array expressions (the _mh_core_ctes
    # shape): map-side, zero explode, zero window.  The r2 version's
    # posexplode + lead() windows shuffled and sorted every TOKEN in the
    # corpus (~10^13 rows at 100 TB) before the signature GROUP BY; this
    # form's only exchanges are the fullsig GROUP BY and the final ORDER
    # BY.  The >=3-token guard filters on the plain regexp at the lowest
    # level (a WHERE on the derived array column would be substituted
    # into an interpreted per-row predicate — round-2 lesson).
    # ONE md5 per shingle, then 4 integer universal-hash permutations
    # (the _mh_core_ctes scheme) — the earlier form hashed every shingle
    # four times (md5(s+'#k')), which dominated the sf-scaled bench.
    # conv() hex decode: value-identical to the instr digit expansion
    # the frozen oracle replays, ~1.6x faster (see _mh_core_ctes).
    digits = "CAST(conv(substr(m, 1, 8), 16, 10) AS BIGINT)"
    perms = _mh_perm_consts()[:4]
    mins = ",\n                 ".join(
        f"array_min(transform(hq, h -> ({a} * h + {b}) % {_MH_PRIME}))"
        f" AS m{k + 1}"
        for k, (a, b) in enumerate(perms)
    )
    guard = _min_tokens_rlike("main_text", 3)
    return spark.sql(f"""
        WITH toks AS (
          SELECT url, regexp_extract_all(main_text, '\\\\S+', 0) AS ws
          FROM {{extracted}}
          WHERE {guard}
        ), sh AS (
          SELECT url,
                 transform(sequence(0, size(ws) - 3), i ->
                   concat_ws(' ', ws[i], ws[i + 1], ws[i + 2])) AS shingles
          FROM toks
        ), hq AS (
          SELECT url,
                 transform(transform(shingles, s -> md5(s)),
                           m -> (({digits}) % {_MH_PRIME})) AS hq
          FROM sh
        ), sigs AS (
          SELECT url,
                 {mins}
          FROM hq
        )
        SELECT concat_ws('-', m1, m2, m3, m4) AS fullsig,
               MIN(url) AS keep_url, COUNT(*) AS n_pages
        FROM sigs
        GROUP BY concat_ws('-', m1, m2, m3, m4)
        HAVING COUNT(*) > 1
        ORDER BY fullsig
    """, extracted=out.select("url", "main_text"))


def _extract_near_dups(spark, sf_dir: str) -> DataFrame:
    """Driver-contract variant: pinned to the fixed 500-page fixture;
    oracle = frozen parquet from the in-process engine
    (scripts/freeze_expected.py near_dup_rows)."""
    return _near_dups_over(spark, _pages_fixed(spark))


def extract_near_dups_scaled(spark, sf_dir: str) -> DataFrame:
    """Bench-only variant over the sf-scaled pages table: the one-plan
    parse+extract+minhash flow at throughput scale."""
    return _near_dups_over(spark, _pages(spark, sf_dir))


def _extract_lang_stats(spark, sf_dir: str) -> DataFrame:
    """Pipeline-level agg: extraction joined back to page lang, per-lang
    byte totals (exercises join + agg over the UDF output).  Pinned to
    the fixed 500-page fixture; oracle = frozen parquet from the
    in-process engine (scripts/freeze_expected.py lang_stats_rows)."""
    pages = _pages_fixed(spark)
    out = run_extract(spark, pages)
    joined = out.join(pages.select("url", "lang").distinct(), "url")
    return (
        joined.groupBy("lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).alias("sum_text_bytes"),
            F.sum("n_nodes").alias("sum_nodes"),
        )
        .orderBy("lang")
    )


_PDF_PAGE_CHARS = 2000


def _pdf_text_roundtrip(spark, sf_dir: str) -> DataFrame:
    """PDF/layout parse (north_rule): every document's text is paginated
    into a spec-valid PDF and re-extracted by the from-scratch parser
    (sparkjob/pdfcodec.py), all inside one Arrow pass.

    The oracle is a TRUE independent check: DuckDB computes the expected
    page count and text md5 straight from the documents table and never
    sees a PDF byte — a writer/parser bug on the Spark side cannot
    cancel out."""
    docs = _scan(spark, f"{sf_dir}/documents.parquet", spread=True) \
        .select("doc_id", "text")

    def roundtrip(iterator):
        import hashlib

        import pyarrow as pa

        from .pdfcodec import PdfError, encode_simple_pdf, \
            extract_pdf_text

        k = _PDF_PAGE_CHARS
        for batch in iterator:
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            n_pages, md5s = [], []
            for t in texts:
                t = t or ""
                chunks = [t[i:i + k]
                          for i in range(0, max(len(t), 1), k)]
                try:
                    out = extract_pdf_text(encode_simple_pdf(chunks))
                    n_pages.append(len(out))
                    md5s.append(hashlib.md5(
                        "".join(out).encode("utf-8")).hexdigest())
                except PdfError:  # pragma: no cover — writer is valid
                    n_pages.append(-1)
                    md5s.append("")
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()),
                 pa.array(n_pages, pa.int64()),
                 pa.array(md5s, pa.string())],
                names=["doc_id", "n_pdf_pages", "text_md5"],
            )

    return docs.mapInArrow(
        roundtrip, "doc_id bigint, n_pdf_pages bigint, text_md5 string"
    ).orderBy("doc_id")


_PDF_ROUNDTRIP_ORACLE = f"""
SELECT doc_id,
       GREATEST(CAST(CEIL(length(text) / {_PDF_PAGE_CHARS}.0) AS BIGINT),
                1) AS n_pdf_pages,
       md5(text) AS text_md5
FROM documents
ORDER BY doc_id
"""


# --------------------------- URL hygiene ----------------------------------
# Training-pipeline URL normalization (RFC 3986 case/port/fragment rules +
# the practical utm_* strip), implemented TWICE with each engine's own
# function set — Spark higher-order filter()/substring_index vs DuckDB
# list_filter/split_part — so the oracle is a genuinely independent
# replay, not a shared expression.  Messy inputs are derived
# deterministically from doc_id (10 cycling patterns: host/scheme case,
# default and non-default ports, fragments, utm params in several
# positions, credentials, non-http schemes, scheme-less strings).
#
# Rules: lowercase scheme and authority; drop :80 (http) / :443 (https);
# drop fragments; drop utm_* query params (and the '?' if none remain);
# scheme-less inputs only get fragment/nothing cleanup; crawlable =
# http(s), non-empty authority, no credentials.

_URL_RAW_CASE = """CASE doc_id % 10
  WHEN 0 THEN 'https://Host' || (doc_id % 97) || '.Example/p/' || doc_id
  WHEN 1 THEN 'http://host' || (doc_id % 97) || '.example:80/p/' || doc_id
  WHEN 2 THEN 'https://host' || (doc_id % 97)
       || '.example:443/a/b/' || doc_id || '?utm_source=x&q=' || doc_id
  WHEN 3 THEN 'https://host' || (doc_id % 97) || '.example/p/' || doc_id
       || '#frag'
  WHEN 4 THEN 'HTTPS://HOST' || (doc_id % 97) || '.example/p/' || doc_id
       || '?utm_campaign=c'
  WHEN 5 THEN 'ftp://host' || (doc_id % 97) || '.example/file/' || doc_id
  WHEN 6 THEN 'https://user:pw@host' || (doc_id % 97) || '.example/p/'
       || doc_id
  WHEN 7 THEN 'https://host' || (doc_id % 97) || '.example:8443/p/'
       || doc_id
  WHEN 8 THEN 'https://host' || (doc_id % 97) || '.example/p/' || doc_id
       || '?b=2&utm_medium=m&a=1'
  ELSE 'relative/path/' || doc_id
END"""

_URL_NORMALIZE_SPARK = f"""
WITH raw AS (
  SELECT doc_id, {_URL_RAW_CASE} AS url_raw FROM documents
), parts AS (
  SELECT doc_id, url_raw,
    regexp_replace(url_raw, '#.*$', '') AS nofrag,
    lower(regexp_extract(url_raw,
                         '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme
  FROM raw
), split1 AS (
  SELECT *, CASE WHEN scheme <> ''
                 THEN substring(nofrag, length(scheme) + 4) ELSE nofrag
            END AS after_scheme
  FROM parts
), split2 AS (
  SELECT *, regexp_extract(after_scheme, '^[^/?#]*', 0) AS authority
  FROM split1
), split3 AS (
  SELECT *,
    substring(after_scheme, length(authority) + 1) AS path_q,
    CASE WHEN scheme = 'http'
         THEN regexp_replace(lower(authority), ':80$', '')
         WHEN scheme = 'https'
         THEN regexp_replace(lower(authority), ':443$', '')
         ELSE lower(authority) END AS auth_norm
  FROM split2
), split4 AS (
  SELECT *,
    substring_index(path_q, '?', 1) AS path,
    CASE WHEN instr(path_q, '?') > 0
         THEN array_join(filter(split(substring(path_q,
                                      instr(path_q, '?') + 1), '&'),
                                x -> NOT startswith(x, 'utm_')), '&')
         ELSE '' END AS query_kept
  FROM split3
)
SELECT doc_id, url_raw,
  CASE WHEN scheme = '' THEN nofrag
       ELSE scheme || '://' || auth_norm || path
            || CASE WHEN query_kept <> '' THEN '?' || query_kept
                    ELSE '' END
  END AS url_norm,
  CASE WHEN scheme = '' THEN ''
       ELSE regexp_extract(auth_norm, '^(?:[^@]*@)?([^:]*)', 1)
  END AS host,
  (scheme IN ('http', 'https') AND authority <> ''
   AND instr(authority, '@') = 0) AS crawlable
FROM split4
ORDER BY doc_id
"""

_URL_NORMALIZE_DUCK = f"""
WITH raw AS (
  SELECT doc_id, {_URL_RAW_CASE} AS url_raw FROM documents
), parts AS (
  SELECT doc_id, url_raw,
    regexp_replace(url_raw, '#.*$', '') AS nofrag,
    lower(coalesce(regexp_extract(url_raw,
                   '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), '')) AS scheme
  FROM raw
), split1 AS (
  SELECT *, CASE WHEN scheme <> ''
                 THEN substr(nofrag, length(scheme) + 4) ELSE nofrag
            END AS after_scheme
  FROM parts
), split2 AS (
  SELECT *,
    coalesce(regexp_extract(after_scheme, '^[^/?#]*', 0), '')
        AS authority
  FROM split1
), split3 AS (
  SELECT *,
    substr(after_scheme, length(authority) + 1) AS path_q,
    CASE WHEN scheme = 'http' AND lower(authority) LIKE '%:80'
         THEN substr(lower(authority), 1, length(authority) - 3)
         WHEN scheme = 'https' AND lower(authority) LIKE '%:443'
         THEN substr(lower(authority), 1, length(authority) - 4)
         ELSE lower(authority) END AS auth_norm
  FROM split2
), split4 AS (
  SELECT *,
    split_part(path_q, '?', 1) AS path,
    CASE WHEN strpos(path_q, '?') > 0
         THEN array_to_string(list_filter(
                string_split(substr(path_q, strpos(path_q, '?') + 1),
                             '&'),
                x -> NOT starts_with(x, 'utm_')), '&')
         ELSE '' END AS query_kept
  FROM split3
)
SELECT doc_id, url_raw,
  CASE WHEN scheme = '' THEN nofrag
       ELSE scheme || '://' || auth_norm || path
            || CASE WHEN query_kept <> '' THEN '?' || query_kept
                    ELSE '' END
  END AS url_norm,
  CASE WHEN scheme = '' THEN ''
       ELSE coalesce(regexp_extract(auth_norm,
                     '^(?:[^@]*@)?([^:]*)', 1), '')
  END AS host,
  (scheme IN ('http', 'https') AND authority <> ''
   AND strpos(authority, '@') = 0) AS crawlable
FROM split4
ORDER BY doc_id
"""


# ------------------------------ registry ----------------------------------
# One declaration per query: (name, Spark builder (spark, sf_dir) ->
# DataFrame, DuckDB oracle text), in the driver's key order.

_EXTRACT_PAGES_ORACLE = (
    "SELECT url, text_sha256, n_nodes, main_len, err"
    f" FROM {_frozen('extract_pages')} ORDER BY url"
)

_REGISTRY = (
    # relational core (Catalyst-native)
    ("pricing_summary", _sql(_PRICING_SUMMARY_SPARK), _PRICING_SUMMARY_SPARK),
    ("top_revenue_orders", _sql(_TOP_REVENUE_SPARK), _TOP_REVENUE_SPARK),
    ("latest_event_per_user", _sql(_LATEST_EVENT_PER_USER),
     _LATEST_EVENT_PER_USER),
    # training-data ops over documents
    ("docs_dedup_exact", _sql(_DOCS_DEDUP_EXACT), _DOCS_DEDUP_EXACT),
    ("docs_token_stats", _sql(_DOCS_TOKEN_STATS_SPARK),
     _DOCS_TOKEN_STATS_DUCK),
    ("docs_quality", _sql(_DOCS_QUALITY), _DOCS_QUALITY_DUCK),
    ("docs_stopword_punct", *_dual(_docs_stopword_punct_sql)),
    ("docs_lang_stats", _sql(_DOCS_LANG_STATS), _DOCS_LANG_STATS),
    ("docs_langid", _sql(_DOCS_LANGID), _DOCS_LANGID),
    ("url_normalize", _sql(_URL_NORMALIZE_SPARK), _URL_NORMALIZE_DUCK),
    ("docs_fingerprint", _sql(_DOCS_FINGERPRINT_SPARK),
     _DOCS_FINGERPRINT_DUCK),
    ("docs_minhash_sigs", *_dual(_docs_minhash_sql)),
    ("docs_minhash_bands", *_dual(_docs_minhash_bands_sql)),
    ("docs_simhash", _sql(_simhash_sql(_WORDS_SRC_SPARK)),
     _simhash_sql(_WORDS_SRC_DUCK)),
    ("docs_simhash_pairs", *_dual(_docs_simhash_pairs_sql)),
    ("docs_near_dup_pairs", *_dual(_docs_near_dup_pairs_sql)),
    ("docs_jaccard_verify", *_dual(_docs_jaccard_verify_sql)),
    ("docs_dup_clusters", _docs_dup_clusters, _docs_dup_clusters_oracle()),
    ("docs_ngram_dup", *_dual(_docs_ngram_dup_sql)),
    ("docs_decontaminate", *_dual(_docs_decontaminate_sql)),
    ("docs_pmi_bigrams", *_dual(_docs_pmi_bigrams_sql)),
    ("docs_bloom_membership", *_dual(_docs_bloom_sql)),
    ("docs_unigram_logprob", *_dual(_docs_unigram_logprob_sql)),
    ("docs_shingle_hll", *_dual(_docs_shingle_hll_sql)),
    ("extract_line_dedup", _extract_line_dedup,
     _line_dedup_sql("duck", "SELECT url, line_no, line FROM "
                     + _frozen("extract_lines"))),
    ("extract_content_blocks", _extract_content_blocks,
     _CONTENT_BLOCKS_CLASSIFY.format(
         src=f"SELECT * FROM {_frozen('extract_blocks')}")),
    ("docs_tfidf_topk", *_dual(_docs_tfidf_sql)),
    ("url_host_skew", _sql(_URL_HOST_SKEW), _URL_HOST_SKEW),
    ("docs_pagerank", _docs_pagerank, _docs_pagerank_oracle()),
    ("docs_corpus_card", _sql(_DOCS_CORPUS_CARD), _DOCS_CORPUS_CARD),
    ("url_robots_gate", _url_robots_gate, _URL_ROBOTS_GATE_DUCK),
    ("sitemap_extract", _sitemap_extract, _SITEMAP_EXTRACT_DUCK),
    ("url_surt_keys", _sql(_url_surt_spark_sql()), _URL_SURT_DUCK),
    ("docs_langid_confusion", _sql(_DOCS_LANGID_CONFUSION),
     _DOCS_LANGID_CONFUSION),
    ("text_nfc_normalize", _text_nfc_normalize,
     _text_nfc_normalize_oracle()),
    ("extract_selector_pages", _extract_selector_pages,
     "SELECT url, sel_sha256, sel_len"
     f" FROM {_frozen('extract_selector')} ORDER BY url"),
    ("docs_curation_verdict", _docs_curation_verdict,
     _docs_curation_verdict_oracle()),
    ("docs_length_quantiles", _sql(_DOCS_LENGTH_QUANTILES),
     _DOCS_LENGTH_QUANTILES),
    ("extract_anchor_texts", _extract_anchor_texts,
     _ANCHOR_AGG_SQL.format(src=_frozen("extract_anchors"))),
    ("docs_dup_spans", *_dual(_docs_dup_spans_sql)),
    ("docs_quality_tiers", *_dual(_docs_quality_tiers_sql)),
    ("docs_token_cms", *_dual(_docs_token_cms_sql)),
    ("docs_shard_assign", *_dual(_docs_shard_assign_sql)),
    ("docs_bpe_token_stats", _sql(_DOCS_BPE_TOKENS), _DOCS_BPE_TOKENS_DUCK),
    ("docs_repetition", *_dual(_docs_repetition_sql)),
    ("docs_sample_stratified", *_dual(_docs_sample_sql)),
    ("docs_winnow_fp", *_dual(_docs_winnow_sql)),
    # similarity search over embeddings
    ("ann_cosine_topk", _sql(_ANN_TOPK_SPARK), _ANN_TOPK_DUCK),
    ("ann_lsh_topk", _ann_lsh_topk, _ann_lsh_topk_oracle()),
    # HTML extraction over the fixed fixture.  The parser is not
    # SQL-expressible, but its expected output IS checkable: the frozen
    # parquets were produced by the golden-verified in-process engine
    # (scripts/freeze_expected.py), so the driver's three-way compare
    # runs Spark-through-Arrow vs an independent path.
    ("extract_pages", _extract_pages, _EXTRACT_PAGES_ORACLE),
    # The WARC round-trip, plain and with per-record gzip members, must
    # reproduce the byte-identical extraction: extract_pages' oracle.
    ("warc_extract_pages", _warc_extract_pages, _EXTRACT_PAGES_ORACLE),
    ("warc_gz_extract_pages",
     lambda spark, sf_dir: _warc_extract_pages(spark, sf_dir, gz=True),
     _EXTRACT_PAGES_ORACLE),
    # The WAT JSON envelope round-trip must preserve every title and
    # link, replayed from the frozen page_titles + page_links parquets
    # (per-url aggregation: the fixture holds recrawled duplicate urls,
    # so a row-per-page join would inflate).
    ("wat_extract_meta", _wat_extract_meta,
     "WITH t AS (SELECT url, CAST(COUNT(*) AS BIGINT) AS n_pages,"
     f" MIN(title) AS min_title FROM {_frozen('page_titles')}"
     " GROUP BY url),"
     " l AS (SELECT url, CAST(SUM(n_links) AS BIGINT) AS total_links,"
     f" MIN(first_href) AS min_first_href FROM {_frozen('page_links')}"
     " GROUP BY url)"
     " SELECT t.url, t.n_pages, t.min_title, l.total_links,"
     " l.min_first_href FROM t JOIN l ON t.url = l.url"
     " ORDER BY t.url"),
    ("page_links", _page_links,
     f"SELECT url, n_links, first_href FROM {_frozen('page_links')}"
     " ORDER BY url"),
    ("page_titles", _page_titles,
     f"SELECT url, title FROM {_frozen('page_titles')} ORDER BY url"),
    ("page_xpath_stats", _page_xpath_stats,
     "SELECT url, title_norm, n_ref_links, first_nav_href,"
     f" n_nonempty_paras FROM {_frozen('page_xpath_stats')} ORDER BY url"),
    ("extract_lang_stats", _extract_lang_stats,
     "SELECT lang, n_pages, sum_text_bytes, sum_nodes"
     f" FROM {_frozen('extract_lang_stats')} ORDER BY lang"),
    ("pdf_text_roundtrip", _pdf_text_roundtrip, _PDF_ROUNDTRIP_ORACLE),
    ("extract_near_dups", _extract_near_dups,
     f"SELECT fullsig, keep_url, n_pages FROM {_frozen('extract_near_dups')}"
     " ORDER BY fullsig"),
)

QUERIES: dict = {name: build for name, build, _ in _REGISTRY}
ORACLES: dict = {name: oracle for name, _, oracle in _REGISTRY}
