"""Driver-contract queries: Spark implementation + DuckDB oracle SQL.

Each entry implements one operator family from SURVEY.md §2 over the
driver testdata tables (documents/embeddings), expressed so that the
Spark DataFrame plan and the ANSI-SQL oracle produce IDENTICAL values
(the driver hash-compares them at sf=0.01).

Shared deterministic 60-bit hash across engines:
    Spark : conv(substr(md5(s),1,15),16,10)::long
    DuckDB: ('0x' || substr(md5(s),1,15))::bigint

The REAL pipeline uses the NumPy splitmix64 MinHash (faster, wider);
these md5-based variants exist so candidate generation itself is
cross-checkable in SQL. Semantics (shingle -> minhash -> band ->
bucket -> verify -> connected components) are identical.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufuzzy_spark.config import MatchConfig
from ufuzzy_spark.latinize import ACCENT_DST, ACCENT_SRC
from ufuzzy_spark.oracle import UFuzzyOracle
from ufuzzy_spark.session import broadcast_once, fits_broadcast

# ---------------------------------------------------------------- #
# shared helpers
# ---------------------------------------------------------------- #

SHINGLE_K = 5
N_SEEDS = 4          # md5-parity minhash permutations
STOPWORDS = "the a an and of to in is on for with as by at or".split()


# Session-resident tables and shared frames. The input tables are
# SINGLE-row-group parquet files: a raw scan is one task, so every
# per-doc expression (regexes, shingle md5s, SRP dot products) would
# run on one core. _table reads a table once per session, hash-
# partitions it on its key (deterministic; width follows
# defaultParallelism) and persists it, so each later query is a narrow
# pass over InMemoryTableScan — uFuzzy's prepared haystack. The
# md5-parity chain frames (shingles -> minhash -> bands -> cands ->
# jaccard -> clusters) are shared the same way. Entries are keyed by
# applicationId, sf_dir and the (st_mtime_ns, st_size) of the source
# table: the first use after a rewrite unpersists the old copy's
# frames before rebuilding (else the CacheManager would serve the old
# cached plan), a new session drops a stopped session's entries, and
# release_shared() frees them after their last consumer.
_SHARED: dict = {}


def _shared(spark, sf_dir: str, key: str, build, table: str = "documents"):
    """Build-once-per-session persisted frame; returns (df, n_rows)."""
    st = os.stat(f"{sf_dir}/{table}.parquet")
    app = spark.sparkContext.applicationId
    k = (app, sf_dir, table, (st.st_mtime_ns, st.st_size), key)
    hit = _SHARED.get(k)
    if hit is None:
        _drop(app, lambda o: o[0] != app or (o[1:3] == k[1:3] and o[3] != k[3]))
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        # force NOW: consumers read these frames through concurrent
        # subplans, and tasks racing an unpopulated persist recompute
        # the chain (the pipeline.py:100-106 failure mode)
        hit = _SHARED[k] = (df, df.count())
    return hit


def _drop(app: str, stale) -> None:
    for k in [k for k in _SHARED if stale(k)]:
        df, _ = _SHARED.pop(k)
        if k[0] == app:  # a stopped session's frames went with it
            df.unpersist()


def release_shared(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Unpersist and drop the resident frames of ``sf_dir`` (or all)."""
    app = spark.sparkContext.applicationId
    _drop(app, lambda k: sf_dir is None or k[1] == sf_dir)


def _resident(spark: SparkSession, sf_dir: str, name: str, key: str):
    """Session-resident ``{sf_dir}/{name}.parquet``, partitioned on
    ``key``; returns (df, n_rows)."""
    def build():
        n = spark.sparkContext.defaultParallelism * 2
        return spark.read.parquet(f"{sf_dir}/{name}.parquet").repartition(n, key)

    return _shared(spark, sf_dir, name, build, table=name)


def _table(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    return _resident(spark, sf_dir, name, key)[0]


def h60(col: Column) -> Column:
    """Engine-portable 60-bit hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def norm_col() -> Column:
    return F.lower(F.translate(F.col("text"), ACCENT_SRC, ACCENT_DST))


# DuckDB translate needs the same literal from/to strings
_SRC_SQL = ACCENT_SRC.replace("'", "''")
_DST_SQL = ACCENT_DST.replace("'", "''")
NORM_SQL = f"lower(translate(text, '{_SRC_SQL}', '{_DST_SQL}'))"

TOKEN_SPLIT = "[^A-Za-z\\d']+"


def tokens_expr(norm: Column) -> Column:
    return F.filter(F.split(norm, TOKEN_SPLIT), lambda t: t != F.lit(""))


TOKENS_SQL = (
    "list_filter(regexp_split_to_array({norm}, '[^A-Za-z\\d'']+'), x -> x != '')"
)


def _mi_pattern(needle: str) -> str:
    """MultiInsert default-config filter regex from the real compiler
    (oracle.prep_query — uFuzzy.mjs:250-392). RE2-safe for DuckDB:
    default config emits no lookaheads (those appear only when
    intraIns==1)."""
    uf = UFuzzyOracle(MatchConfig())
    q = uf.prep_query(needle)
    assert q is not None
    return q[0].pattern


# ---------------------------------------------------------------- #
# query registry: name -> (spark_fn, oracle_sql | None)
# ---------------------------------------------------------------- #

_REGISTRY: dict = {}


def register(name: str, sql: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


def queries():
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql():
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


# ---------------------------------------------------------------- #
# 1. normalize + tokenize (SURVEY §2 #1 split, #10 latinize)
# ---------------------------------------------------------------- #

@register(
    "normalize_tokens",
    f"""
    SELECT doc_id,
           {NORM_SQL} AS norm_text,
           len({TOKENS_SQL.format(norm=NORM_SQL)})::BIGINT AS n_tokens
    FROM documents
    """,
)
def q_normalize_tokens(spark, sf_dir):
    d = _table(spark, sf_dir, "documents", "doc_id")
    norm = norm_col()
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.size(tokens_expr(norm)).cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------- #
# 2. fuzzy filter — MultiInsert compiled regex (SURVEY §2 #3,#4)
# ---------------------------------------------------------------- #

_NEEDLE = "spark join"
_MI_RE = _mi_pattern(_NEEDLE)


@register(
    "fuzzy_filter",
    f"""
    SELECT doc_id FROM documents
    WHERE regexp_matches({NORM_SQL}, '(?i){_MI_RE}')
    """,
)
def q_fuzzy_filter(spark, sf_dir):
    d = _table(spark, sf_dir, "documents", "doc_id")
    return d.where(norm_col().rlike("(?i)" + _MI_RE)).select("doc_id")


@register(
    "fuzzy_filter_ooo",
    f"""
    SELECT doc_id FROM documents
    WHERE regexp_matches({NORM_SQL}, '(?i){_mi_pattern("join")}')
      AND regexp_matches({NORM_SQL}, '(?i){_mi_pattern("spark")}')
    """,
)
def q_fuzzy_filter_ooo(spark, sf_dir):
    """Out-of-order AND pre-reduction (uFuzzy.mjs:812-828): per-term
    isolation filters, order-invariant — no permutation fan-out."""
    d = _table(spark, sf_dir, "documents", "doc_id")
    n = norm_col()
    return d.where(
        n.rlike("(?i)" + _mi_pattern("join")) & n.rlike("(?i)" + _mi_pattern("spark"))
    ).select("doc_id")


@register(
    "negation_filter",
    f"""
    SELECT doc_id FROM documents
    WHERE regexp_matches({NORM_SQL}, '(?i){_mi_pattern("data")}')
      AND NOT regexp_matches({NORM_SQL}, '(?i)stream')
    """,
)
def q_negation_filter(spark, sf_dir):
    """Substring negation anti-filter (uFuzzy.mjs:772-790,873-874)."""
    d = _table(spark, sf_dir, "documents", "doc_id")
    n = norm_col()
    return d.where(
        n.rlike("(?i)" + _mi_pattern("data")) & ~n.rlike("(?i)stream")
    ).select("doc_id")


# ---------------------------------------------------------------- #
# 3. rank comparator keys (SURVEY §2 #7 sort)
# ---------------------------------------------------------------- #

RANK_CAP = 1000  # the reference's infoThresh (uFuzzy.mjs:876-879)


@register(
    "rank_comparator",
    f"""
    SELECT doc_id,
           (strpos({NORM_SQL}, 'query') - 1)::BIGINT AS start,
           row_number() OVER (
             ORDER BY strpos({NORM_SQL}, 'query') ASC,
                      substr({NORM_SQL}, 1, 256) ASC, doc_id ASC
           )::BIGINT AS rnk
    FROM documents
    WHERE strpos({NORM_SQL}, 'query') > 0
    QUALIFY rnk <= {RANK_CAP}
    """,
)
def q_rank_comparator(spark, sf_dir):
    """Deterministic multi-key ranking: earliest start, then text,
    then id — the start/collation tail of the reference comparator
    (uFuzzy.mjs:103-108). chars/intraIns keys are constant for an
    exact single-term needle and drop out.

    Ranking is capped at RANK_CAP — the reference's own infoThresh
    gate (it never ranks more than infoThresh matches,
    uFuzzy.mjs:876-879) — and computed by two-phase top-k
    (operators/topk.py), so no unpartitioned Window ever sees an
    unbounded input (VERDICT r1 #1). The collation tiebreak is a
    BOUNDED 256-char prefix of the normalized text (same key on the
    oracle side) + doc_id: the merge buffer holds <= RANK_CAP * P
    compact key structs instead of full documents (ADVICE r2)."""
    from ufuzzy_spark.operators.topk import global_rank_asc

    d = _table(spark, sf_dir, "documents", "doc_id")
    n = norm_col()
    start = (F.instr(n, "query") - 1).cast("long")
    matched = d.where(F.instr(n, "query") > 0).select(
        "doc_id",
        start.alias("start"),
        F.substring(n, 1, 256).alias("_normk"),
    )
    ranked = global_rank_asc(matched, ["start", "_normk", "doc_id"], RANK_CAP)
    return ranked.select("doc_id", "start", "rnk")


@register(
    "typeahead_rank",
    f"""
    SELECT doc_id,
           (strpos({NORM_SQL}, 'stream') - 1)::BIGINT AS start,
           length(text)::BIGINT AS txt_len,
           row_number() OVER (
             ORDER BY strpos({NORM_SQL}, 'stream') ASC, length(text) ASC,
                      doc_id ASC
           )::BIGINT AS rnk
    FROM documents
    WHERE strpos({NORM_SQL}, 'stream') > 0
    QUALIFY rnk <= {RANK_CAP}
    """,
)
def q_typeahead_rank(spark, sf_dir):
    """Typeahead comparator preset: start offset and match length
    promoted above term-bound counters (demos/compare.html:295-330,
    SURVEY §2 #7b). Same infoThresh-capped two-phase ranking as
    rank_comparator."""
    from ufuzzy_spark.operators.topk import global_rank_asc

    d = _table(spark, sf_dir, "documents", "doc_id")
    n = norm_col()
    start = (F.instr(n, "stream") - 1).cast("long")
    matched = d.where(F.instr(n, "stream") > 0).select(
        "doc_id",
        start.alias("start"),
        F.length("text").cast("long").alias("txt_len"),
    )
    ranked = global_rank_asc(
        matched, ["start", "txt_len", "doc_id"], RANK_CAP
    )
    return ranked.select("doc_id", "start", "txt_len", "rnk")


@register(
    "highlight_ranges",
    f"""
    SELECT doc_id,
           (strpos({NORM_SQL}, 'window') - 1)::BIGINT AS range_start,
           (strpos({NORM_SQL}, 'window') - 1 + 6)::BIGINT AS range_end
    FROM documents
    WHERE strpos({NORM_SQL}, 'window') > 0
    """,
)
def q_highlight_ranges(spark, sf_dir):
    """Match-range extraction for highlight rendering
    (uFuzzy.mjs:681-737,1012-1031): [start, end) of the first
    occurrence per doc."""
    d = _table(spark, sf_dir, "documents", "doc_id")
    n = norm_col()
    start = (F.instr(n, "window") - 1).cast("long")
    return d.where(F.instr(n, "window") > 0).select(
        "doc_id",
        start.alias("range_start"),
        (start + F.lit(6)).alias("range_end"),
    )


@register(
    "intra_rules_ladder",
    f"""
    WITH toks AS (
        SELECT DISTINCT unnest({TOKENS_SQL.format(norm=NORM_SQL)}) AS term
        FROM documents
    )
    SELECT term,
           CASE WHEN NOT regexp_matches(term, '[^0-9]') THEN 0
                WHEN length(term) <= 2 THEN 0
                WHEN length(term) = 3 THEN 0
                ELSE 1 END::BIGINT AS intra_ins,
           CASE WHEN NOT regexp_matches(term, '[^0-9]') THEN 0
                WHEN length(term) >= 3 THEN 1 ELSE 0 END::BIGINT AS intra_trn,
           CASE WHEN NOT regexp_matches(term, '[^0-9]') THEN 0
                WHEN length(term) >= 5 THEN 1 ELSE 0 END::BIGINT AS intra_sub,
           CASE WHEN NOT regexp_matches(term, '[^0-9]') THEN 0
                WHEN length(term) >= 5 THEN 1 ELSE 0 END::BIGINT AS intra_del
    FROM toks
    """,
)
def q_intra_rules_ladder(spark, sf_dir):
    """The adaptive per-term error budget as a native expression
    ladder (uFuzzy.mjs:175-218, intraMode=1 defaults): digits exact;
    len<=2 exact; len 3 -> 1 trn; len 4 -> 1 trn + 1 ins; len>=5 ->
    full budgets."""
    d = _table(spark, sf_dir, "documents", "doc_id")
    toks = (
        d.select(F.explode(tokens_expr(norm_col())).alias("term")).distinct()
    )
    is_digits = ~F.col("term").rlike("[^0-9]")
    ln = F.length("term")
    return toks.select(
        "term",
        F.when(is_digits, 0)
        .when(ln <= 3, 0)
        .otherwise(1)
        .cast("long")
        .alias("intra_ins"),
        F.when(is_digits, 0).when(ln >= 3, 1).otherwise(0).cast("long").alias(
            "intra_trn"
        ),
        F.when(is_digits, 0).when(ln >= 5, 1).otherwise(0).cast("long").alias(
            "intra_sub"
        ),
        F.when(is_digits, 0).when(ln >= 5, 1).otherwise(0).cast("long").alias(
            "intra_del"
        ),
    )


# ---------------------------------------------------------------- #
# 3b. permute fan-out (SURVEY §2 #11), quoted exacts, refineMatch
# ---------------------------------------------------------------- #

_PERM_TERMS = ["sort", "merge", "spark"]


def _perm_patterns() -> list[tuple[int, str]]:
    """(perm_id, compiled in-order pattern) in the reference's Heap's
    -algorithm emission order (uFuzzy.mjs:986-1010)."""
    from ufuzzy_spark.oracle import permute

    return [
        (i, _mi_pattern(" ".join(p))) for i, p in enumerate(permute(_PERM_TERMS))
    ]


@register(
    "permute_fanout",
    "\nUNION ALL\n".join(
        f"""SELECT {pid}::BIGINT AS perm_id, doc_id FROM documents
        WHERE regexp_matches({NORM_SQL}, '(?i){pat}')"""
        for pid, pat in _perm_patterns()
    ),
)
def q_permute_fanout(spark, sf_dir):
    """OOO permutation fan-out (uFuzzy.mjs:835-858): one compiled
    in-order MultiInsert pattern per term permutation, emitted in
    Heap's-algorithm order (:986-1010). One scan pass: the per-doc
    match set is computed as an array of per-permutation hits and
    exploded — no N-pass union, no extra shuffle."""
    d = _table(spark, sf_dir, "documents", "doc_id")
    n = norm_col()
    hits = F.array(
        *[
            F.when(n.rlike("(?i)" + pat), F.lit(pid).cast("long"))
            for pid, pat in _perm_patterns()
        ]
    )
    return (
        d.select("doc_id", F.explode(hits).alias("perm_id"))
        .where(F.col("perm_id").isNotNull())
        .select("perm_id", "doc_id")
    )


_QUOTED_NEEDLE = '"slow fast" query'
_QUOTED_RE = _mi_pattern(_QUOTED_NEEDLE)


@register(
    "quoted_exact",
    f"""
    SELECT doc_id,
           (strpos({NORM_SQL}, 'slow fast') - 1)::BIGINT AS phrase_start
    FROM documents
    WHERE regexp_matches({NORM_SQL}, '(?i){_QUOTED_RE}')
    """,
)
def q_quoted_exact(spark, sf_dir):
    """Quoted-exact term semantics (uFuzzy.mjs:229-234, :169): the
    quoted phrase is stashed before tokenization and compiled as an
    escaped LITERAL — including its interior space, which an unquoted
    needle would split on — followed in order by the fuzzy term.
    Contraction detachment (:258-262) shares this code path and is
    differential-tested (tests/test_oracle.py); driver documents
    contain no apostrophes, so its driver probe would be vacuous."""
    d = _table(spark, sf_dir, "documents", "doc_id")
    n = norm_col()
    return d.where(n.rlike("(?i)" + _QUOTED_RE)).select(
        "doc_id",
        (F.instr(n, "slow fast") - 1).cast("long").alias("phrase_start"),
    )


# refineMatch probe (SURVEY §2 #6, uFuzzy.mjs:524-539 + :754-761):
# with a fuzzy term template (intraIns=2; intraChars widened to allow
# spaces — both documented reference options) the leftmost match can
# be a multi-word fuzzy stretch like "r ow"; if the EXACT term occurs
# later in the trailing junk group, info() splices it in and restarts
# the range there, zeroing the intra-insert count. The refine algebra
# below is native on both engines; tests/test_operators.py pins it to
# oracle.info()'s refined output on the same rows.
_REFINE_TERM = "row"
_REFINE_CFG_KW = dict(intraIns=2, intraChars="[a-z\\d' ]")


def _refine_pattern() -> str:
    uf = UFuzzyOracle(MatchConfig(**_REFINE_CFG_KW))
    q = uf.prep_query(_REFINE_TERM)
    assert q is not None
    return q[0].pattern


_REFINE_RE = _refine_pattern()
_REFINE_RE_SQL = _REFINE_RE.replace("'", "''")


@register(
    "refine_match_probe",
    f"""
    WITH m AS (
        SELECT doc_id, {NORM_SQL} AS norm,
               regexp_extract({NORM_SQL}, '{_REFINE_RE_SQL}') AS grp,
               (length({NORM_SQL})
                - length(regexp_extract({NORM_SQL},
                         '(?s){_REFINE_RE_SQL}.*'))) AS fuzzy_start
        FROM documents
        WHERE regexp_matches({NORM_SQL}, '{_REFINE_RE_SQL}')
    ),
    r AS (
        SELECT doc_id, grp, fuzzy_start,
               strpos(substr(norm, fuzzy_start + length(grp) + 1),
                      '{_REFINE_TERM}') AS idx_of
        FROM m
    )
    SELECT doc_id,
           (grp != '{_REFINE_TERM}' AND idx_of > 0) AS refined,
           CASE WHEN grp != '{_REFINE_TERM}' AND idx_of > 0
                THEN fuzzy_start + length(grp) + idx_of - 1
                ELSE fuzzy_start END::BIGINT AS start,
           CASE WHEN grp != '{_REFINE_TERM}' AND idx_of > 0 THEN 0
                ELSE length(grp) - {len(_REFINE_TERM)} END::BIGINT AS intra_ins
    FROM r
    """,
)
def q_refine_match_probe(spark, sf_dir):
    d = _table(spark, sf_dir, "documents", "doc_id")
    term = _REFINE_TERM
    tlen = len(term)
    n = norm_col()
    m = d.where(n.rlike(_REFINE_RE)).select(
        "doc_id",
        n.alias("norm"),
        F.regexp_extract(n, _REFINE_RE, 0).alias("grp"),
        (
            F.length(n)
            - F.length(F.regexp_extract(n, "(?s)" + _REFINE_RE + ".*", 0))
        ).alias("fuzzy_start"),
    )
    rest = F.col("norm").substr(
        F.col("fuzzy_start") + F.length("grp") + 1, F.length("norm")
    )
    r = m.select(
        "doc_id", "grp", "fuzzy_start", F.instr(rest, term).alias("idx_of")
    )
    refined = (F.col("grp") != term) & (F.col("idx_of") > 0)
    return r.select(
        "doc_id",
        refined.alias("refined"),
        F.when(
            refined, F.col("fuzzy_start") + F.length("grp") + F.col("idx_of") - 1
        )
        .otherwise(F.col("fuzzy_start"))
        .cast("long")
        .alias("start"),
        F.when(refined, F.lit(0))
        .otherwise(F.length("grp") - tlen)
        .cast("long")
        .alias("intra_ins"),
    )


# ---------------------------------------------------------------- #
# 3c. SingleError mode (intraMode=1, uFuzzy.mjs:268-341)
# ---------------------------------------------------------------- #

_SE_NEEDLES = ["strem", "windwo"]
# checkout-relative (ADVICE r2: a hardcoded /root/repo path breaks on
# any other checkout location)
_SE_FIXTURE = str(
    Path(__file__).resolve().parent.parent
    / "fixtures"
    / "single_error_expected.parquet"
)


def _se_patterns() -> list[tuple[str, str]]:
    uf = UFuzzyOracle(MatchConfig(intraMode=1))
    return [(nd, uf.prep_query(nd)[0].pattern) for nd in _SE_NEEDLES]


@register(
    "single_error",
    f"""
    -- intraMode=1 patterns use anti-greedy lookaheads
    -- (uFuzzy.mjs:296-299) that RE2 cannot run, so the oracle is the
    -- precomputed expected table from the node-pinned Python oracle
    -- (scripts/gen_single_error_fixture.py; staleness-guarded by
    -- tests/test_entry_parity.py). Rows are keyed by a corpus-content
    -- fingerprint recomputed here from the registered documents view
    -- (all testdata sf are precomputed): an unknown corpus matches
    -- ZERO rows, so a scale/fixture mismatch fails the gate loudly
    -- instead of comparing the wrong corpus (ADVICE r2).
    SELECT needle, doc_id FROM read_parquet('{_SE_FIXTURE}')
    WHERE corpus_key = (
      SELECT md5(string_agg(doc_id::VARCHAR || ':' || md5(text), ','
                 ORDER BY doc_id))
      FROM documents)
    """,
)
def q_single_error(spark, sf_dir):
    """SingleError matching mode (SURVEY §2 #2/#3 at intraMode=1):
    each term compiles to an alternation of exact | substitution |
    transposition | deletion | insertion variants with the intraSlice
    first-char anchor and anti-greedy lookahead (uFuzzy.mjs:268-341).
    Computed LIVE here with the compiled pattern (Java regex handles
    the lookaheads); the DuckDB side replays the oracle-precomputed
    expected set."""
    d = _table(spark, sf_dir, "documents", "doc_id")
    n = norm_col()
    hits = F.array(
        *[
            F.when(n.rlike(pat), F.lit(nd))
            for nd, pat in _se_patterns()
        ]
    )
    return (
        d.select("doc_id", F.explode(hits).alias("needle"))
        .where(F.col("needle").isNotNull())
        .select("needle", "doc_id")
    )


# ---------------------------------------------------------------- #
# 4. exact dedup (hash groupBy; pipeline stage 2)
# ---------------------------------------------------------------- #

@register(
    "exact_dedup",
    """
    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
    FROM documents
    """,
)
def q_exact_dedup(spark, sf_dir):
    d = _table(spark, sf_dir, "documents", "doc_id")
    w = Window.partitionBy(F.md5("text"))
    return d.select("doc_id", F.min("doc_id").over(w).alias("rep_id"))


# ---------------------------------------------------------------- #
# 5. minhash signatures (md5-parity family; SURVEY §2 #13 analog)
# ---------------------------------------------------------------- #

# bytes per doc of the broadcast shingle arrays (3,363 measured at
# sf0.1: ~300 distinct 5-grams per doc)
_SHARR_ROW_BYTES = 3_400

# per-doc DISTINCT shingle set as an array: explode + global DISTINCT
# collapses to array_distinct because shingles are dedup'd WITHIN a
# doc_id — same set, zero shuffles (guide §2.4).
_SH_EXPR = (
    f"array_distinct(transform("
    f"sequence(1, greatest(length(norm) - {SHINGLE_K - 1}, 1)),"
    f" i -> substring(norm, i, {SHINGLE_K})))"
)


def _sharr(spark, sf_dir):
    """Shared (doc_id, sh: array<string>) — per-doc distinct shingles."""

    def build():
        return (
            _table(spark, sf_dir, "documents", "doc_id")
            .select("doc_id", norm_col().alias("norm"))
            .select("doc_id", F.expr(_SH_EXPR).alias("sh"))
        )

    return _shared(spark, sf_dir, "sharr", build)


def _shingles_df(spark, sf_dir) -> DataFrame:
    """(doc_id, shingle) distinct char-K-grams of normalized text.

    Skinny-row view of the shared per-doc arrays: rows are already
    distinct (arrays are per-doc distinct), so no shuffle remains."""
    arrs, _ = _sharr(spark, sf_dir)
    return arrs.select("doc_id", F.explode("sh").alias("shingle"))


_SHINGLES_SQL = f"""
    SELECT DISTINCT doc_id, substr(norm, i, {SHINGLE_K}) AS shingle
    FROM (SELECT doc_id, {NORM_SQL} AS norm FROM documents) d
    CROSS JOIN LATERAL unnest(
        generate_series(1, greatest(length(norm) - {SHINGLE_K - 1}, 1))
    ) AS t(i)
"""

_MINHASH_SQL = f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    seeded AS (
        SELECT s.doc_id, t.seed,
               {h60_sql("t.seed || '|' || s.shingle")} AS h
        FROM shingles s
        CROSS JOIN unnest(generate_series(0, {N_SEEDS - 1})) AS t(seed)
    )
    SELECT doc_id, seed::BIGINT AS seed, min(h) AS minhash
    FROM seeded GROUP BY doc_id, seed
"""


# per-doc minhash vector: min over the doc's shingle set of
# h60(seed || '|' || shingle) for each seed — the groupBy(doc_id,
# seed).min collapses to array_min per doc (min over duplicates ==
# min over the distinct set), removing the seeds crossJoin (4x row
# fanout) and the 60M-row aggregation shuffle at sf1.0 (guide §2.3
# "aggregate before you shuffle" taken to its limit: no shuffle).
_MH_EXPR = (
    f"transform(sequence(0, {N_SEEDS - 1}), seed -> "
    "array_min(transform(sh, s -> cast(conv(substr(md5("
    "concat(cast(seed as string), '|', s)), 1, 15), 16, 10) as bigint))))"
)


def _mharr(spark, sf_dir):
    """Shared (doc_id, mhs: array<long>[N_SEEDS]) minhash vectors."""

    def build():
        arrs, _ = _sharr(spark, sf_dir)
        return arrs.select("doc_id", F.expr(_MH_EXPR).alias("mhs"))

    return _shared(spark, sf_dir, "mharr", build)


def _minhash_df(spark, sf_dir) -> DataFrame:
    mh, _ = _mharr(spark, sf_dir)
    return mh.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {N_SEEDS - 1}), i -> "
                "struct(cast(i as bigint) as seed, mhs[i] as minhash))"
            )
        ).alias("sm"),
    ).select("doc_id", "sm.seed", "sm.minhash")


@register("minhash_signature", _MINHASH_SQL)
def q_minhash_signature(spark, sf_dir):
    return _minhash_df(spark, sf_dir)


# ---------------------------------------------------------------- #
# 6. LSH band buckets + candidate pairs (SURVEY §2 #13)
# ---------------------------------------------------------------- #

_BANDS_SQL = f"""
    WITH mh AS ({_MINHASH_SQL})
    SELECT doc_id, (seed // 2)::BIGINT AS band_id,
           {h60_sql("string_agg(minhash, ',' ORDER BY seed)")} AS band_hash
    FROM mh GROUP BY doc_id, (seed // 2)::BIGINT
"""

_CANDS_SQL = f"""
    WITH bands AS ({_BANDS_SQL})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
"""


def _bands_df(spark, sf_dir) -> DataFrame:
    # per-doc band hashes straight off the minhash vector: the old
    # groupBy(doc_id, band_id) + sorted collect_list re-assembled
    # "mhs[2b],mhs[2b+1]" through a shuffle; the same string is a
    # narrow projection of the shared mhs array (guide §2.4)
    mh, _ = _mharr(spark, sf_dir)
    bands = F.expr(
        f"transform(sequence(0, {N_SEEDS // 2 - 1}), b -> struct("
        "cast(b as bigint) as band_id, "
        "cast(conv(substr(md5(concat(cast(mhs[2*b] as string), ',', "
        "cast(mhs[2*b+1] as string))), 1, 15), 16, 10) as bigint)"
        " as band_hash))"
    )
    return mh.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", "b.band_id", "b.band_hash"
    )


def _cands(spark, sf_dir):
    """Shared distinct LSH candidate pairs (id_a, id_b).

    INVARIANT (corpus_funnel parity depends on it — ADVICE r5): this
    generator is EXHAUSTIVE and UNCAPPED. Docs with identical
    normalized text have identical minhash vectors, hence identical
    band hashes, hence are ALWAYS emitted as a candidate pair; the
    funnel's c6 counts distinct cluster_id over the stage-4 set and
    the DuckDB oracle over stage-5 exact-unique reps, which agree
    only because same-text docs always end up in one cluster. Do NOT
    add a bucket-size cap here (the production operator's salted cap
    lives in operators/lsh.py and is deliberately not used by the
    entry chain)."""

    def build():
        bands = _bands_df(spark, sf_dir)
        a = bands.select(
            F.col("doc_id").alias("id_a"), "band_id", "band_hash"
        )
        b = bands.select(
            F.col("doc_id").alias("id_b"), "band_id", "band_hash"
        )
        return (
            a.join(b, ["band_id", "band_hash"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    return _shared(spark, sf_dir, "cands", build)


@register("lsh_candidate_pairs", _CANDS_SQL)
def q_lsh_candidate_pairs(spark, sf_dir):
    cands, _ = _cands(spark, sf_dir)
    return cands


# ---------------------------------------------------------------- #
# 7. n-gram Jaccard verification of candidates
# ---------------------------------------------------------------- #

_JACCARD_SQL = f"""
    WITH cands AS ({_CANDS_SQL}),
    sh AS ({_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS i
        FROM cands c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT c.id_a, c.id_b,
           round(COALESCE(i.i, 0)::DOUBLE
                 / (za.n + zb.n - COALESCE(i.i, 0)), 6) AS jaccard
    FROM cands c
    JOIN sizes za ON za.doc_id = c.id_a
    JOIN sizes zb ON zb.doc_id = c.id_b
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
"""


@register("ngram_jaccard", _JACCARD_SQL)
def q_ngram_jaccard(spark, sf_dir):
    """Exact pairwise shingle Jaccard over the candidate pairs.

    Corpora whose shingle arrays fit the broadcast budget: broadcast
    the per-doc shingle arrays to both sides of the pair table (one
    built relation, reused by the second side) and compute
    |A ∩ B| with array_intersect in one codegen stage — the pre-r06
    shape expanded cands x shingles(id_a) (19.5M x ~300 = 5.8e9 rows
    at sf1.0) and shuffled that by (id_b, shingle) before a pair-key
    aggregation; here the pair table is never shuffled at all (guide
    §8: decide with small rows — attach the per-doc payload via
    broadcast so the join cannot sneak the shuffle back in). Larger
    corpora fall back to the skinny posting-join shape."""
    return _jaccard_df(spark, sf_dir)


def _jaccard_df(spark, sf_dir, size_ratio_floor: float | None = None):
    """Jaccard per candidate pair; broadcast shape while the shingle
    arrays (~3.4 KB/doc measured, the fat payload) fit
    ``session.fits_broadcast``, posting join above it.

    ``size_ratio_floor``: consumers that immediately filter
    ``jaccard >= tau`` (the near-dup edge builders) pass a SAFE
    pre-filter bound: |A∩B| <= min(|A|,|B|), so jaccard <=
    min/max — a pair with min/max below the floor provably cannot
    reach tau and its array_intersect (the dominant per-pair cost:
    measured 64.5 s for the 18.9M-pair table at the 50k-doc scale)
    is skipped by a one-comparison size check. The floor must be
    chosen so the kept set is a superset of round(j,6) >= tau; the
    surviving pairs' jaccard values are computed exactly as before,
    so the >= tau edge set is IDENTICAL."""
    cands, _ = _cands(spark, sf_dir)
    arrs, n_docs = _sharr(spark, sf_dir)
    if fits_broadcast(n_docs, _SHARR_ROW_BYTES):
        # one built relation for both sides
        side = broadcast_once(arrs, True)
        j = cands.join(side.toDF("id_a", "sha"), "id_a").join(
            side.toDF("id_b", "shb"), "id_b"
        )
        if size_ratio_floor is not None:
            # exact integer compare: keep iff min*SCALE >= floor*SCALE*max
            num = int(round(size_ratio_floor * 2_000_000))
            j = j.where(
                F.least(F.size("sha"), F.size("shb")) * F.lit(2_000_000)
                >= F.greatest(F.size("sha"), F.size("shb")) * F.lit(num)
            )
        return (
            j.withColumn("i", F.size(F.array_intersect("sha", "shb")))
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.col("i").cast("double")
                    / (F.size("sha") + F.size("shb") - F.col("i")),
                    6,
                ).alias("jaccard"),
            )
        )
    # posting-join fallback: the skinny shuffle already dominates and
    # the floor is implied by the downstream jaccard filter — nothing
    # to prune early there
    return _jaccard_posting_join(spark, sf_dir, cands)


def _jaccard_posting_join(spark, sf_dir, cands) -> DataFrame:
    """Posting-join Jaccard — the shape past the broadcast budget: only
    skinny (pair_key, shingle) rows are shuffled, never doc payloads."""
    sh = _shingles_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        cands.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        cands.join(za, "id_a")
        .join(zb, "id_b")
        .join(inter, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.coalesce(F.col("i"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


_VWIN, _VSCAN = 512, 1024

_VERIFY_SQL = f"""
    WITH cands AS ({_CANDS_SQL}),
    docs_n AS (SELECT doc_id, {NORM_SQL} AS norm FROM documents),
    terms AS (
        SELECT DISTINCT doc_id, t.term
        FROM docs_n, unnest(list_filter(
            regexp_split_to_array(substr(norm, 1, {_VWIN}), '[^a-z\\d'']+'),
            x -> length(x) >= 2)) AS t(term)
    ),
    m_a AS (
        SELECT c.id_a, c.id_b,
               count(*) AS n_a,
               sum(CASE WHEN strpos(substr(db.norm, 1, {_VSCAN}), t.term) > 0
                        THEN 1 ELSE 0 END) AS hit_a
        FROM cands c
        JOIN terms t ON t.doc_id = c.id_a
        JOIN docs_n db ON db.doc_id = c.id_b
        GROUP BY c.id_a, c.id_b
    ),
    m_b AS (
        SELECT c.id_a, c.id_b,
               count(*) AS n_b,
               sum(CASE WHEN strpos(substr(da.norm, 1, {_VSCAN}), t.term) > 0
                        THEN 1 ELSE 0 END) AS hit_b
        FROM cands c
        JOIN terms t ON t.doc_id = c.id_b
        JOIN docs_n da ON da.doc_id = c.id_a
        GROUP BY c.id_a, c.id_b
    )
    SELECT a.id_a, a.id_b,
           round(0.5 * (hit_a::DOUBLE / n_a + hit_b::DOUBLE / n_b), 6) AS score,
           (0.5 * (hit_a::DOUBLE / n_a + hit_b::DOUBLE / n_b)) >= 0.8 AS is_dup
    FROM m_a a JOIN m_b b ON a.id_a = b.id_a AND a.id_b = b.id_b
"""


@register("verify_pairs_native", _VERIFY_SQL)
def q_verify_pairs_native(spark, sf_dir):
    """The default-config pair predicate in NATIVE exprs (no UDF):
    with intraMode=0/intraIns=0 each split term compiles to a literal
    (uFuzzy.mjs:342-359), so verification is θ-fraction substring
    containment — JVM codegen end-to-end. Terms come from a plain
    split, so this is not the pipeline's predicate: the pandas-UDF
    verifier in operators/verify.py (the one used for every config)
    keeps split()'s quoted "..." spans as terms."""
    cands, _ = _cands(spark, sf_dir)
    d, n_docs = _resident(spark, sf_dir, "documents", "doc_id")
    d = d.select("doc_id", norm_col().alias("norm"))

    # per-doc profile: distinct window terms as an array + the scan
    # window. The pre-r06 shape exploded terms, joined cands twice per
    # side and aggregated by pair key (4 pair-fanout shuffles at 19.5M
    # pairs x ~30 terms); attaching the profile via guarded broadcast
    # computes both hit counts in one codegen stage with the pair
    # table never shuffled (guide §8 / §2.3). A pair appears iff both
    # sides have >= 1 term — the inner terms-join semantics.
    prof = d.select(
        "doc_id",
        F.array_distinct(
            F.filter(
                F.split(F.substring("norm", 1, _VWIN), TOKEN_SPLIT),
                lambda t: F.length(t) >= 2,
            )
        ).alias("terms"),
        F.substring("norm", 1, _VSCAN).alias("scan"),
    )
    # one built relation of ~850 B/row (measured at sf0.1) for both sides
    prof = broadcast_once(prof, fits_broadcast(n_docs, 900))
    pa, pb = (
        prof.select(
            F.col("doc_id").alias(f"id_{s}"),
            F.col("terms").alias(f"terms_{s}"),
            F.col("scan").alias(f"scan_{s}"),
        )
        for s in "ab"
    )
    hit_a = F.size(
        F.filter("terms_a", lambda t: F.instr(F.col("scan_b"), t) > 0)
    )
    hit_b = F.size(
        F.filter("terms_b", lambda t: F.instr(F.col("scan_a"), t) > 0)
    )
    score = 0.5 * (
        F.col("hit_a").cast("double") / F.col("n_a")
        + F.col("hit_b").cast("double") / F.col("n_b")
    )
    return (
        cands.join(pa, "id_a")
        .join(pb, "id_b")
        .where((F.size("terms_a") > 0) & (F.size("terms_b") > 0))
        .select(
            "id_a",
            "id_b",
            F.size("terms_a").alias("n_a"),
            F.size("terms_b").alias("n_b"),
            hit_a.alias("hit_a"),
            hit_b.alias("hit_b"),
        )
        .select(
            "id_a",
            "id_b",
            F.round(score, 6).alias("score"),
            (score >= 0.8).alias("is_dup"),
        )
    )


_SUBSTR_K = 64

_SUBSTR_SQL = f"""
    WITH grams AS (
        SELECT DISTINCT doc_id, substr(norm, i, {_SUBSTR_K}) AS gram
        FROM (SELECT doc_id, {NORM_SQL} AS norm FROM documents) d
        CROSS JOIN LATERAL unnest(
            generate_series(1, greatest(length(norm) - {_SUBSTR_K - 1}, 0))
        ) AS t(i)
        WHERE length(norm) >= {_SUBSTR_K}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM grams a JOIN grams b
      ON a.gram = b.gram AND a.doc_id < b.doc_id
"""


@register("exact_substring_pairs", _SUBSTR_SQL)
def q_exact_substring_pairs(spark, sf_dir):
    """Exhaustive long-exact-substring pairs (k=64) via native gram
    explosion — the oracle for the winnowing pass, which samples ~2/w
    of these grams with a deterministic >= k+w-1 guarantee
    (operators/substring.py)."""
    # One grouped pass instead of distinct + self-join: the old shape
    # shuffled the ~15M (doc_id, 64-char gram) rows three times at
    # sf1.0 (distinct, then both sides of the join re-partitioned by
    # gram). Grouping by gram and expanding doc pairs inside the group
    # shuffles the gram rows ONCE (collect_set dedups in-group, so the
    # pre-join distinct is free), then only the skinny pairs flow to
    # the final distinct (guide §2.3/§2.4).
    d = _table(spark, sf_dir, "documents", "doc_id")
    d = d.select("doc_id", norm_col().alias("norm"))
    grams = d.where(F.length("norm") >= _SUBSTR_K).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length(norm) - {_SUBSTR_K - 1}, 1)),"
                f" i -> substring(norm, i, {_SUBSTR_K}))"
            )
        ).alias("gram"),
    )
    groups = (
        grams.groupBy("gram")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .where(F.size("ds") > 1)
    )
    ds = F.col("ds")
    pair_expr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + 2, F.greatest(F.size(ds) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        groups.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


# grouped suffix-array pass (north_star's suffix-array branch;
# operators/suffix_array.py). Groups here are an arbitrary
# deterministic co-grouping (doc_id % 20) — in the pipeline they are
# LSH buckets/clusters. Oracle: within-group k-gram intersection is
# exactly "shares a >= k common substring".
_SA_MINLEN = 64
_SA_GROUPS = 20

_SA_PAIRS_SQL = f"""
    WITH grams AS (
        SELECT DISTINCT doc_id, (doc_id % {_SA_GROUPS}) AS group_id,
               substr(norm, i, {_SA_MINLEN}) AS gram
        FROM (SELECT doc_id, {NORM_SQL} AS norm FROM documents) d
        CROSS JOIN LATERAL unnest(
            generate_series(1, greatest(length(norm) - {_SA_MINLEN - 1}, 0))
        ) AS t(i)
        WHERE length(norm) >= {_SA_MINLEN}
    )
    SELECT DISTINCT a.doc_id AS url_a, b.doc_id AS url_b
    FROM grams a JOIN grams b
      ON a.gram = b.gram AND a.group_id = b.group_id
     AND a.doc_id < b.doc_id
"""


@register("suffix_array_pairs", _SA_PAIRS_SQL)
def q_suffix_array_pairs(spark, sf_dir):
    """Per-group exhaustive long-exact-substring pairs via one suffix
    array per group (prefix-doubling SA + Kasai LCP inside
    applyInPandas; operators/suffix_array.py). The DuckDB oracle
    states the same set declaratively as a within-group k-gram
    self-join. Complements the global sampled winnowing pass
    (operators/substring.py)."""
    from ufuzzy_spark.operators.suffix_array import suffix_array_pairs

    d = _table(spark, sf_dir, "documents", "doc_id")
    # zero-padded string ids: the operator's url ordering (string) must
    # agree with the oracle's numeric doc_id < doc_id pair orientation
    uid = F.format_string("%09d", "doc_id")
    normed = d.select(uid.alias("url"), norm_col().alias("norm_text"))
    groups = d.select(
        uid.alias("url"), (F.col("doc_id") % _SA_GROUPS).alias("group_id")
    )
    # max_run_docs high: the oracle is the exhaustive (uncapped) set
    pairs = suffix_array_pairs(
        normed, groups, min_len=_SA_MINLEN, max_run_docs=10**6
    )
    return pairs.select(
        F.col("url_a").cast("long").alias("url_a"),
        F.col("url_b").cast("long").alias("url_b"),
    )


# ---------------------------------------------------------------- #
# 8. dup clusters — LSH cands -> jaccard verify -> connected comps
# ---------------------------------------------------------------- #

# shared CTE chain: LSH/Jaccard edges + exact-hash edges -> recursive
# closure -> per-doc cluster id. Used by dup_clusters AND the
# corpus_funnel capstone below.
_CC_CTES = f"""jac AS MATERIALIZED ({_JACCARD_SQL}),
    edges AS MATERIALIZED (
        SELECT id_a, id_b FROM jac WHERE jaccard >= 0.7
        UNION
        SELECT a.doc_id, b.doc_id
        FROM documents a JOIN documents b
          ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ),
    -- MATERIALIZED: DuckDB 1.0 otherwise INLINES these CTEs into the
    -- recursive term, re-running the whole LSH/Jaccard pipeline once
    -- per closure iteration (measured 95 s -> 2 s on the embedding
    -- twin of this query at sf0.1)
    sym AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM edges
        UNION SELECT id_b, id_a FROM edges
    ),
    reach AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    cc_clusters AS (
        SELECT d.doc_id,
               least(d.doc_id, COALESCE(min(r.b), d.doc_id)) AS cluster_id
        FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        GROUP BY d.doc_id
    )"""

_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_CC_CTES}
    SELECT doc_id, cluster_id FROM cc_clusters
"""


def _near_dup_edges(spark, sf_dir):
    """Shared (id_a, id_b, jaccard) pairs at jaccard >= 0.7.

    The filter consumes the Jaccard VALUE for every candidate pair, so
    materializing it costs one array_intersect pass over the full pair
    table (~64 s for 19.5M pairs at sf1.0) — shared so the suite pays
    that pass once (dup_clusters/corpus_funnel via _clusters, and
    resume_lineage's verified_pairs stage) instead of once per
    consumer. Output is tiny (2.5k rows at sf1.0)."""

    def build():
        # 0.6999995 is the exact boundary of round(j, 6) >= 0.7, so
        # the size-ratio prefilter keeps a provable superset of the
        # final >= 0.7 set (see _jaccard_df) — edge set unchanged
        return _jaccard_df(spark, sf_dir, size_ratio_floor=0.6999995).where(
            "jaccard >= 0.7"
        )

    return _shared(spark, sf_dir, "near_edges", build)


def _clusters(spark, sf_dir):
    """Shared (doc_id, cluster_id) — LSH/Jaccard + exact-dup CC."""

    def build():
        from ufuzzy_spark.operators.components import connected_components

        near, _ = _near_dup_edges(spark, sf_dir)
        near_edges = near.select("id_a", "id_b")
        d = _table(spark, sf_dir, "documents", "doc_id")
        # star-edge election (VERDICT r5 next #1): the old md5
        # self-join emitted K(K-1)/2 clique edges per identical-text
        # group — quadratic poison for boilerplate mega-groups at
        # scale. One window over the content hash emits K-1 star edges
        # instead (the operators/dedup.py pattern); connected
        # components, and therefore the oracle hash, are invariant to
        # clique-vs-star edge shape.
        w = Window.partitionBy(F.md5("text"))
        exact_edges = (
            d.select("doc_id", F.min("doc_id").over(w).alias("rep"))
            .where(F.col("doc_id") != F.col("rep"))
            .select(
                F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b")
            )
        )
        edges = near_edges.unionByName(exact_edges).distinct()
        cc = connected_components(
            edges.select(
                F.col("id_a").alias("url_a"), F.col("id_b").alias("url_b")
            ),
            all_nodes=d.select(F.col("doc_id").alias("url")),
        )
        return cc.select(F.col("url").alias("doc_id"), F.col("cluster_id"))

    return _shared(spark, sf_dir, "clusters", build)


@register("dup_clusters", _CLUSTERS_SQL)
def q_dup_clusters(spark, sf_dir):
    clusters, _ = _clusters(spark, sf_dir)
    return clusters


# ---------------------------------------------------------------- #
# 8b. pair_features — full reference Info counters per candidate pair
#     (SURVEY §2 #5; dist/uFuzzy.d.ts:175-207)
# ---------------------------------------------------------------- #

_PF_WIN = 512          # PipelineConfig.verify_window_chars default
_PF_INTRA_BOUND = "[A-Za-z]\\d|\\d[A-Za-z]|[a-z][A-Z]"
_PF_INTER_BOUND = "[^A-Za-z\\d]"

_PAIR_FEATURES_SQL = f"""
    WITH cands AS ({_CANDS_SQL}),
    docs_n AS (
        SELECT doc_id,
               substr({NORM_SQL}, 1, {_PF_WIN}) AS win_a,
               substr({NORM_SQL}, 1, {2 * _PF_WIN}) AS win_b
        FROM documents
    ),
    sel AS (
        SELECT c.id_a, c.id_b, db.win_b AS b2,
               list_filter(
                   list_filter(
                       regexp_split_to_array(da.win_a, '[^a-z\\d'']+'),
                       x -> length(x) >= 2),
                   t -> strpos(db.win_b, t) > 0)[1] AS term
        FROM cands c
        JOIN docs_n da ON da.doc_id = c.id_a
        JOIN docs_n db ON db.doc_id = c.id_b
    ),
    feat AS (
        SELECT id_a, id_b, b2, term,
               (strpos(b2, term) - 1) AS s0,
               length(term) AS tlen
        FROM sel WHERE term IS NOT NULL
    ),
    bnd AS (
        SELECT *,
               CASE WHEN s0 = 0 THEN NULL ELSE substr(b2, s0, 1) END AS bef,
               substr(b2, s0 + tlen + 1, 1) AS aft,
               substr(b2, s0 + 1, 1) AS fst,
               substr(b2, s0 + tlen, 1) AS lst
        FROM feat
    ),
    cls AS (
        SELECT id_a, id_b, s0, tlen,
               (s0 = 0 OR regexp_matches(bef, '{_PF_INTER_BOUND}')) AS p2,
               (s0 > 0 AND NOT regexp_matches(bef, '{_PF_INTER_BOUND}')
                AND regexp_matches(bef || fst, '{_PF_INTRA_BOUND}')) AS p1,
               (s0 + tlen = length(b2)
                OR regexp_matches(aft, '{_PF_INTER_BOUND}')) AS s2,
               (s0 + tlen < length(b2)
                AND NOT regexp_matches(aft, '{_PF_INTER_BOUND}')
                AND regexp_matches(lst || aft, '{_PF_INTRA_BOUND}')) AS s1
        FROM bnd
    ),
    hit AS (
        SELECT id_a, id_b,
               true AS matched, 1::INT AS matched_terms,
               s0::INT AS start, tlen::INT AS chars,
               CASE WHEN (p2 OR p1) AND (s2 OR s1) THEN 1 ELSE 0 END::INT AS terms,
               1::INT AS cases, 0::INT AS intra_ins, 0::INT AS inter_ins,
               p2::INT AS lft2, p1::INT AS lft1,
               s2::INT AS rgt2, s1::INT AS rgt1,
               s0::INT AS range_start, (s0 + tlen)::INT AS range_end
        FROM cls
    ),
    miss AS (
        SELECT id_a, id_b,
               false AS matched, 0::INT AS matched_terms,
               -1::INT AS start, 0::INT AS chars, 0::INT AS terms,
               0::INT AS cases, 0::INT AS intra_ins, 0::INT AS inter_ins,
               0::INT AS lft2, 0::INT AS lft1, 0::INT AS rgt2, 0::INT AS rgt1,
               NULL::INT AS range_start, NULL::INT AS range_end
        FROM sel WHERE term IS NULL
    )
    SELECT * FROM hit UNION ALL SELECT * FROM miss
"""


@register("pair_features", _PAIR_FEATURES_SQL)
def q_pair_features(spark, sf_dir):
    """Full Info counters per LSH candidate pair — the reference's
    most distinctive output (Info struct, dist/uFuzzy.d.ts:175-207;
    uFuzzy.mjs:425-752). Spark runs the REAL operator
    (operators/pair_features.py — oracle.info inside an Arrow UDF)
    with needle_terms=1; the DuckDB side independently recomputes the
    literal-term info algebra (start, chars/terms/cases, the
    interLft2/1-interRgt2/1 boundary classes, highlight range), so
    the gate is a genuine cross-implementation differential."""
    from ufuzzy_spark.config import PipelineConfig
    from ufuzzy_spark.operators.pair_features import pair_features
    from ufuzzy_spark.operators.verify import WINDOW_ATTACH_ROW_BYTES

    cands_df, _ = _cands(spark, sf_dir)
    cands = cands_df.select(
        F.col("id_a").alias("url_a"), F.col("id_b").alias("url_b")
    )
    docs, n_docs = _resident(spark, sf_dir, "documents", "doc_id")
    normed = docs.select(F.col("doc_id").alias("url"), norm_col().alias("norm_text"))
    # broadcast the per-doc window texts (guarded): the pair table is
    # ~400x the corpus at sf1.0 (19.5M pairs / 50k docs), so the old
    # sort-merge text joins shuffled the pair table twice — the second
    # time carrying a 1 KB window per row (guide §8: attach payloads
    # without re-shuffling the big side)
    feats = pair_features(
        cands,
        normed,
        PipelineConfig(),
        needle_terms=1,
        broadcast_texts=fits_broadcast(n_docs, WINDOW_ATTACH_ROW_BYTES),
    )
    return feats.select(
        F.col("url_a").alias("id_a"),
        F.col("url_b").alias("id_b"),
        "matched",
        "matched_terms",
        "start",
        "chars",
        "terms",
        "cases",
        "intra_ins",
        "inter_ins",
        "lft2",
        "lft1",
        "rgt2",
        "rgt1",
        F.try_element_at("ranges", F.lit(1)).alias("range_start"),
        F.try_element_at("ranges", F.lit(2)).alias("range_end"),
    )


# ---------------------------------------------------------------- #
# 8c. resume + lineage metrics (SURVEY §2 #14 prefixCache analog)
# ---------------------------------------------------------------- #

@register(
    "resume_lineage",
    f"""
    SELECT 'candidate_pairs' AS stage,
           (SELECT count(*) FROM ({_CANDS_SQL}))::BIGINT AS n_rows,
           true AS resumed
    UNION ALL
    SELECT 'normed', (SELECT count(*) FROM documents)::BIGINT, true
    UNION ALL
    SELECT 'verified_pairs',
           (SELECT count(*) FROM ({_JACCARD_SQL}) WHERE jaccard >= 0.7)::BIGINT,
           true
    """,
)
def q_resume_lineage(spark, sf_dir):
    """Checkpoint/resume with lineage metrics (the prefixCache idea at
    pipeline scale, demos/compare.html:562-601; lineage.py). Runs a
    3-stage md5-parity pipeline through StageRunner TWICE into a fresh
    dir: run 1 computes and writes per-stage parquet + lineage
    records; run 2 must RESUME every stage (config_hash + _SUCCESS
    rule). The returned table is run 2's metrics — stage row counts
    come from parquet footer lineage (_partition_lineage), and
    resumed=true is asserted by the oracle, so a broken resume path
    hash-mismatches."""
    import shutil
    import tempfile

    from ufuzzy_spark.lineage import StageRunner

    tmp = tempfile.mkdtemp(prefix="ufz_resume_entry_")
    try:

        def stages(runner):
            runner.materialize(
                "normed", lambda: q_normalize_tokens(spark, sf_dir)
            )
            runner.materialize(
                "candidate_pairs", lambda: q_lsh_candidate_pairs(spark, sf_dir)
            )
            runner.materialize(
                # same rows as q_ngram_jaccard(...).where(...) — the
                # shared frame just keeps this from paying a second
                # full-pair-table intersect pass (see _near_dup_edges)
                "verified_pairs",
                lambda: _near_dup_edges(spark, sf_dir)[0],
            )

        stages(StageRunner(spark, tmp, "md5parity-v1", resume=True))
        second = StageRunner(spark, tmp, "md5parity-v1", resume=True)
        stages(second)
        rows = [
            (name, int(m["rows"]), bool(m["resumed"]))
            for name, m in second.metrics.items()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows, "stage string, n_rows long, resumed boolean"
    )


# ---------------------------------------------------------------- #
# 9. SimHash fingerprint halves (bit-parallel majority)
# ---------------------------------------------------------------- #

_SIMHASH_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest({TOKENS_SQL.format(norm=NORM_SQL)}) AS tok
        FROM documents
    ),
    th AS (SELECT doc_id, {h60_sql("tok")} AS h, count(*) AS w
           FROM toks GROUP BY doc_id, tok),
    bits AS (
        SELECT doc_id, t.bit,
               CASE WHEN sum(CASE WHEN (h >> t.bit) & 1 = 1 THEN w ELSE -w END) >= 0
                    THEN 1 ELSE 0 END AS bitval
        FROM th CROSS JOIN unnest(generate_series(0, 59)) AS t(bit)
        GROUP BY doc_id, t.bit
    )
    SELECT doc_id,
           sum(CASE WHEN bit < 30 THEN bitval * (1::BIGINT << bit) ELSE 0 END)::BIGINT AS fp_lo,
           sum(CASE WHEN bit >= 30 THEN bitval * (1::BIGINT << (bit - 30)) ELSE 0 END)::BIGINT AS fp_hi
    FROM bits GROUP BY doc_id
"""


@register("simhash_fingerprint", _SIMHASH_SQL)
def q_simhash_fingerprint(spark, sf_dir):
    d = _table(spark, sf_dir, "documents", "doc_id")
    toks = d.select(
        "doc_id", F.explode(tokens_expr(norm_col())).alias("tok")
    )
    th = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("w")).select(
        "doc_id", h60(F.col("tok")).alias("h"), "w"
    )
    bits = spark.range(60).select(F.col("id").cast("int").alias("bit"))
    bitvals = (
        th.crossJoin(F.broadcast(bits))
        .groupBy("doc_id", "bit")
        .agg(
            F.when(
                F.sum(
                    F.when(F.expr("(h >> bit) & 1 = 1"), F.col("w")).otherwise(
                        -F.col("w")
                    )
                )
                >= 0,
                1,
            )
            .otherwise(0)
            .alias("bitval")
        )
    )
    return bitvals.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("bit") < 30,
                F.expr("cast(bitval as bigint) * shiftleft(1L, bit)"),
            ).otherwise(0)
        ).alias("fp_lo"),
        F.sum(
            F.when(
                F.col("bit") >= 30,
                F.expr("cast(bitval as bigint) * shiftleft(1L, bit - 30)"),
            ).otherwise(0)
        ).alias("fp_hi"),
    )


# ---------------------------------------------------------------- #
# 10. text analysis: lang-id, quality, token counts, fingerprint
# ---------------------------------------------------------------- #

_STOP_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "lang_id",
    f"""
    WITH t AS (
        SELECT doc_id,
               len({TOKENS_SQL.format(norm=NORM_SQL)})::BIGINT AS n_tokens,
               len(list_filter({TOKENS_SQL.format(norm=NORM_SQL)},
                   x -> list_contains({_STOP_LIST_SQL}, x)))::BIGINT AS n_stop
        FROM documents
    )
    SELECT doc_id,
           round(n_stop::DOUBLE / greatest(n_tokens, 1), 6) AS stop_ratio,
           CASE WHEN n_stop::DOUBLE / greatest(n_tokens, 1) >= 0.03
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM t
    """,
)
def q_lang_id(spark, sf_dir):
    """Token-level stopword counting: \\b is Unicode-aware in Java
    regex but ASCII-only in DuckDB's RE2, so boundary-regex counting
    is only data-dependently portable (ADVICE r1) — exact-token
    membership against the shared tokenizer is engine-identical."""
    d = _table(spark, sf_dir, "documents", "doc_id")
    n = norm_col()
    toks = tokens_expr(n)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    ).cast("long")
    ratio = n_stop.cast("double") / F.greatest(n_tokens, F.lit(1))
    return d.select(
        "doc_id",
        F.round(ratio, 6).alias("stop_ratio"),
        F.when(ratio >= 0.03, "en").otherwise("other").alias("lang_guess"),
    )


@register(
    "quality_score",
    f"""
    WITH t AS (
        SELECT doc_id,
               length(text)::BIGINT AS n_chars,
               len({TOKENS_SQL.format(norm=NORM_SQL)})::BIGINT AS n_tokens,
               len(regexp_extract_all(text, '[[:punct:]]'))::BIGINT AS n_punct,
               len(regexp_extract_all(text, '\\d'))::BIGINT AS n_digit
        FROM documents
    )
    SELECT doc_id, n_chars, n_tokens,
           round(n_punct::DOUBLE / greatest(n_chars, 1), 6) AS punct_ratio,
           round(n_digit::DOUBLE / greatest(n_chars, 1), 6) AS digit_ratio,
           round(n_chars::DOUBLE / greatest(n_tokens, 1), 6) AS avg_token_len
    FROM t
    """,
)
def q_quality_score(spark, sf_dir):
    d = _table(spark, sf_dir, "documents", "doc_id")
    n_chars = F.length("text").cast("long")
    n_tokens = F.size(tokens_expr(norm_col())).cast("long")
    n_punct = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"\p{Punct}"), F.lit(0))
    ).cast("long")
    n_digit = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"\d"), F.lit(0))
    ).cast("long")
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6).alias(
            "punct_ratio"
        ),
        F.round(n_digit.cast("double") / F.greatest(n_chars, F.lit(1)), 6).alias(
            "digit_ratio"
        ),
        F.round(n_chars.cast("double") / F.greatest(n_tokens, F.lit(1)), 6).alias(
            "avg_token_len"
        ),
    )


@register(
    "token_count",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '\\S+'))::BIGINT AS ws_tokens,
           len({TOKENS_SQL.format(norm=NORM_SQL)})::BIGINT AS alnum_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|\\d+|[^a-z\\d\\s]'))::BIGINT
               AS bpe_ish_tokens
    FROM documents
    """,
)
def q_token_count(spark, sf_dir):
    d = _table(spark, sf_dir, "documents", "doc_id")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0)))
        .cast("long")
        .alias("ws_tokens"),
        F.size(tokens_expr(norm_col())).cast("long").alias("alnum_tokens"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(r"[a-z]+|\d+|[^a-z\d\s]"), F.lit(0)
            )
        )
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@register(
    "doc_fingerprint",
    f"""
    SELECT doc_id, md5({NORM_SQL}) AS fp_md5,
           {h60_sql(NORM_SQL)} AS fp60
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    d = _table(spark, sf_dir, "documents", "doc_id")
    n = norm_col()
    return d.select("doc_id", F.md5(n).alias("fp_md5"), h60(n).alias("fp60"))


# ---------------------------------------------------------------- #
# 10a. training-data hygiene: benchmark decontamination, deterministic
#      mixture sampling, Gopher repetition metrics (operators/
#      decontaminate.py, sampling.py, textstats.py)
# ---------------------------------------------------------------- #

_DECON_N = 8  # token n-gram width (GPT-3 appendix C uses 8-13)


@register(
    "decontaminate",
    f"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_SQL.format(norm=NORM_SQL)} AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - {_DECON_N - 2}),
                   i -> array_to_string(t[i:i+{_DECON_N - 1}], ' ')
               ))) AS gram
        FROM toks WHERE len(t) >= {_DECON_N}
    ),
    bench AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0
    )
    SELECT g.doc_id, count(*)::BIGINT AS n_shared_grams
    FROM grams g JOIN bench USING (gram)
    WHERE g.doc_id % 50 <> 0
    GROUP BY g.doc_id
    """,
)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs sharing a token
    8-gram with the planted "eval set" (doc_id % 50 == 0 — a stable
    2% slice standing in for a benchmark suite). The bench gram set
    is broadcast; the train side's only shuffle is the per-doc count
    (operators/decontaminate.py)."""
    from ufuzzy_spark.operators.decontaminate import ngram_overlap

    d = _table(spark, sf_dir, "documents", "doc_id")
    d = d.withColumn("tokens", tokens_expr(norm_col()))
    bench = d.where(F.col("doc_id") % 50 == 0)
    train = d.where(F.col("doc_id") % 50 != 0)
    # raw-string grams so the DuckDB twin is join-identical; the
    # hashed=True path (xxhash64-folded broadcast) is pinned against
    # this one in tests/test_operators.py
    return ngram_overlap(train, bench, n=_DECON_N, hashed=False)


_MIX_RATES = {"en": 0.5, "zh": 0.9, "es": 0.25, "de": 1.0, "fr": 0.05}


@register(
    "stratified_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT) % 1000000
          < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 900000
                      WHEN 'es' THEN 250000 WHEN 'de' THEN 1000000
                      WHEN 'fr' THEN 50000 ELSE 0 END
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic training-mixture sampling: per-language target
    rates, row kept iff md5(doc_id) folds under the stratum threshold
    — reproducible across engines (the oracle re-derives the SAME
    sample in DuckDB, which is the operator's whole point), no
    shuffle, filter directly over the scan
    (operators/sampling.py)."""
    from ufuzzy_spark.operators.sampling import stratified_sample

    d = _table(spark, sf_dir, "documents", "doc_id").select("doc_id", "lang")
    return stratified_sample(d, _MIX_RATES, "lang", "doc_id")


@register(
    "repetition_score",
    f"""
    WITH toks AS (
        SELECT doc_id, {TOKENS_SQL.format(norm=NORM_SQL)} AS t FROM documents
    ),
    g AS (
        SELECT doc_id, t,
               list_transform(range(1, len(t)),
                              i -> array_to_string(t[i:i+1], ' ')) AS g2,
               list_transform(range(1, len(t) - 1),
                              i -> array_to_string(t[i:i+2], ' ')) AS g3
        FROM toks
    )
    SELECT doc_id,
           CASE WHEN len(t) - 1 > 0 THEN
               round(1 - len(list_distinct(g2))::DOUBLE / (len(t) - 1), 6)
           ELSE 0.0 END AS frac_dup_2grams,
           CASE WHEN len(t) - 2 > 0 THEN
               round(1 - len(list_distinct(g3))::DOUBLE / (len(t) - 2), 6)
           ELSE 0.0 END AS frac_dup_3grams,
           CASE WHEN len(t) > 0 THEN
               round(list_max(list_transform(list_distinct(t),
                   d -> len(list_filter(t, x -> x = d))))::DOUBLE / len(t), 6)
           ELSE 0.0 END AS top_token_frac
    FROM g
    """,
)
def q_repetition_score(spark, sf_dir):
    """Gopher-style intra-doc repetition signals (dup 2/3-gram
    fractions, top-token mass) as one narrow codegen'd projection —
    no shuffle, no Python (operators/textstats.py)."""
    from ufuzzy_spark.operators.textstats import repetition_metrics

    d = _table(spark, sf_dir, "documents", "doc_id")
    d = d.withColumn("tokens", tokens_expr(norm_col()))
    return repetition_metrics(d)


# ---------------------------------------------------------------- #
# 10a2. webtext corpus hygiene: C4-style line dedup, PII scrubbing,
#       URL canonicalization (operators/linededup.py, pii.py,
#       urlnorm.py). The testdata has no newline/url/PII columns, so
#       each query PLANTS its input deterministically from doc_id on
#       both sides (the decontaminate pattern) — the operator under
#       test is the scrub/canonicalize/dedup ladder itself.
# ---------------------------------------------------------------- #

_LINE_W = 12  # planted line width (tokens)
_LINE_MIN = 5  # dedup eligibility threshold (whitespace tokens)

_LINE_DEDUP_SQL = """
    WITH toks AS (
        SELECT doc_id, __TOKENS__ AS t FROM documents
    ),
    lines AS (
        SELECT doc_id, pl['p'] AS pos, pl['l'] AS line
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, greatest(cast(ceil(len(t) / __W__.0) AS INT), 1)),
                       i -> {'p': i,
                             'l': array_to_string(t[i*__W__+1:i*__W__+__W__], ' ')}
                   )) AS pl
            FROM toks
        )
    ),
    marked AS (
        SELECT doc_id, pos, line,
               (len(list_filter(regexp_split_to_array(line, '\\s+'),
                                x -> x != '')) < __MIN__)
               OR (row_number() OVER (PARTITION BY line
                                      ORDER BY doc_id, pos) = 1) AS keep
        FROM lines
    )
    SELECT doc_id, count(*)::BIGINT AS n_lines,
           sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_removed,
           coalesce(array_to_string(list_transform(
               list_sort(list({'p': pos, 'l': line}) FILTER (WHERE keep)),
               s -> s['l']), chr(10)), '') AS clean_text
    FROM marked GROUP BY doc_id
""".replace("__TOKENS__", TOKENS_SQL.format(norm=NORM_SQL)).replace(
    "__W__", str(_LINE_W)
).replace("__MIN__", str(_LINE_MIN))


@register("line_dedup", _LINE_DEDUP_SQL)
def q_line_dedup(spark, sf_dir):
    """C4/CCNet-style corpus-level exact line dedup: keep only the
    globally-first occurrence of each duplicated >=5-token line
    (operators/linededup.py — skew collapses in the map-side
    min/count partial agg). Lines are planted by chunking the
    normalized token stream into 12-token rows; the corpus's real
    near-dup structure makes cross-doc repeats genuine."""
    from ufuzzy_spark.operators.linededup import remove_duplicate_lines

    # tokens hoisted into their own projection (the corpus_funnel rep2
    # lesson): the chunking lambda slices its tokens argument per
    # element, and a non-attribute argument is re-evaluated on every
    # element — the inline form re-ran translate+split per chunk
    toked = _table(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", tokens_expr(norm_col()).alias("toks")
    )
    t = F.col("toks")
    n_chunks = F.greatest(
        F.ceil(F.size(t) / F.lit(float(_LINE_W))).cast("int"), F.lit(1)
    )
    lines = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(t, i * _LINE_W + 1, _LINE_W), " "),
    )
    docs = toked.select("doc_id", lines.alias("lines"))
    return remove_duplicate_lines(docs, min_tokens=_LINE_MIN)


_PII_PLANT_SQL = """
        SELECT doc_id,
               text || CASE doc_id % 4
                 WHEN 0 THEN ' contact user' || doc_id::VARCHAR
                             || '@example.com for details'
                 WHEN 1 THEN ' origin 10.' || (doc_id % 200)::VARCHAR
                             || '.3.7 logged at gate'
                 WHEN 2 THEN ' call +1 (415) 555-0'
                             || lpad((doc_id % 100)::VARCHAR, 3, '0')
                             || ' now'
                 ELSE ''
               END AS text
        FROM documents
"""


def _pii_sql() -> str:
    from ufuzzy_spark.operators.pii import EMAIL_RE, IPV4_RE, PHONE_RE

    return (
        """
    WITH planted AS (__PLANT__),
    s1 AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '__EM__'))::BIGINT AS n_emails,
               regexp_replace(text, '__EM__', '<EMAIL>', 'g') AS t1
        FROM planted
    ),
    s2 AS (
        SELECT doc_id, n_emails,
               len(regexp_extract_all(t1, '__IP__'))::BIGINT AS n_ipv4,
               regexp_replace(t1, '__IP__', '<IP>', 'g') AS t2
        FROM s1
    )
    SELECT doc_id, n_emails, n_ipv4,
           len(regexp_extract_all(t2, '__PH__'))::BIGINT AS n_phones,
           length(regexp_replace(t2, '__PH__', '<PHONE>', 'g'))::BIGINT
               AS clean_len,
           md5(regexp_replace(t2, '__PH__', '<PHONE>', 'g')) AS clean_md5
    FROM s2
    """.replace("__PLANT__", _PII_PLANT_SQL)
        .replace("__EM__", EMAIL_RE.replace("'", "''"))
        .replace("__IP__", IPV4_RE.replace("'", "''"))
        .replace("__PH__", PHONE_RE.replace("'", "''"))
    )


@register("pii_scrub", _pii_sql())
def q_pii_scrub(spark, sf_dir):
    """PII redaction (email -> IPv4 -> phone, stage-wise counts) as a
    single codegen'd projection (operators/pii.py). PII strings are
    planted deterministically from doc_id — emails on doc_id%4==0,
    IPv4s on ==1, phone runs on ==2, untouched docs on ==3 — so all
    three scrub classes and the no-op path are exercised."""
    from ufuzzy_spark.operators.pii import scrub_pii

    d = _table(spark, sf_dir, "documents", "doc_id")
    m = F.col("doc_id") % 4
    did = F.col("doc_id").cast("string")
    tail = (
        F.when(
            m == 0,
            F.concat(
                F.lit(" contact user"), did, F.lit("@example.com for details")
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit(" origin 10."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".3.7 logged at gate"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit(" call +1 (415) 555-0"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 3, "0"),
                F.lit(" now"),
            ),
        )
        .otherwise(F.lit(""))
    )
    planted = d.select(
        "doc_id", F.concat(F.col("text"), tail).alias("text")
    )
    return scrub_pii(planted)


_URL_PLANT_SQL = """
        SELECT doc_id, CASE doc_id % 5
          WHEN 0 THEN 'HTTP://WWW.Example' || (doc_id % 7)::VARCHAR
                      || '.com:80/a//b/' || doc_id::VARCHAR
                      || '/?utm_source=feed&b=2&a=1#top'
          WHEN 1 THEN 'https://Example' || (doc_id % 7)::VARCHAR
                      || '.COM:443/a/b/' || doc_id::VARCHAR || '?a=1&b=2'
          WHEN 2 THEN 'http://example' || (doc_id % 7)::VARCHAR
                      || '.com/a/b/' || doc_id::VARCHAR || '/#v?x=9'
          WHEN 3 THEN 'https://www.example' || (doc_id % 7)::VARCHAR
                      || '.com/search?q=x+y&utm_campaign=z&gclid=abc'
                      || '&ref=home&fbclid'
          ELSE 'not a url ' || doc_id::VARCHAR
        END AS url
        FROM documents
"""

_URL_CANON_SQL = """
    WITH planted AS (__PLANT__),
    parts AS (
        SELECT doc_id, url,
          lower(regexp_extract(url,
              '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
          regexp_replace(lower(regexp_extract(url,
              '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1)),
              '^www\\.', '') AS hostport,
          regexp_replace(regexp_extract(url,
              '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1),
              '/{2,}', '/', 'g') AS p0,
          regexp_extract(regexp_replace(url, '#.*', ''),
                         '\\?(.*)', 1) AS rawq
        FROM planted
    ),
    norm AS (
        SELECT doc_id, url, scheme,
          CASE scheme
            WHEN 'http' THEN regexp_replace(hostport, ':80$', '')
            WHEN 'https' THEN regexp_replace(hostport, ':443$', '')
            ELSE hostport END AS host,
          CASE WHEN len(p0) > 1 AND p0 LIKE '%/'
               THEN substr(p0, 1, len(p0) - 1) ELSE p0 END AS p1,
          coalesce(array_to_string(list_sort(list_filter(
              regexp_split_to_array(rawq, '&'),
              x -> x != '' AND NOT regexp_matches(x,
                  '^(utm_[^=]*|fbclid|gclid|ref)(=|$)'))), '&'), '') AS q
        FROM parts
    )
    SELECT doc_id,
           CASE WHEN scheme = '' THEN url
                ELSE scheme || '://' || host
                     || CASE WHEN p1 = '' THEN '/' ELSE p1 END
                     || CASE WHEN q = '' THEN '' ELSE '?' || q END
           END AS url_canon,
           host AS url_host
    FROM norm
""".replace("__PLANT__", _URL_PLANT_SQL)


@register("url_canonicalize", _URL_CANON_SQL)
def q_url_canonicalize(spark, sf_dir):
    """RFC 3986-style URL canonicalization (operators/urlnorm.py):
    fragment strip, case/port/www folding, slash collapse, tracking-
    param drop + byte-wise query sort — one codegen'd projection.
    URLs are planted in five shapes per doc_id%5: messy-equivalent,
    already-canonical-ish, trailing slash, tracking-heavy, and a
    non-URL pass-through."""
    from ufuzzy_spark.operators.urlnorm import canonicalize_urls

    d = _table(spark, sf_dir, "documents", "doc_id")
    did = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 7).cast("string")
    m = F.col("doc_id") % 5
    url = (
        F.when(
            m == 0,
            F.concat(
                F.lit("HTTP://WWW.Example"), k, F.lit(".com:80/a//b/"),
                did, F.lit("/?utm_source=feed&b=2&a=1#top"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("https://Example"), k, F.lit(".COM:443/a/b/"),
                did, F.lit("?a=1&b=2"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("http://example"), k, F.lit(".com/a/b/"), did,
                F.lit("/#v?x=9"),
            ),
        )
        .when(
            m == 3,
            F.concat(
                F.lit("https://www.example"), k,
                F.lit(
                    ".com/search?q=x+y&utm_campaign=z&gclid=abc"
                    "&ref=home&fbclid"
                ),
            ),
        )
        .otherwise(F.concat(F.lit("not a url "), did))
    )
    planted = d.select("doc_id", url.alias("url"))
    return canonicalize_urls(planted)


# ---------------------------------------------------------------- #
# 10a3. corpus curation funnel — the capstone composition: language
#       keep -> quality thresholds -> repetition cut -> exact dedup
#       -> near-dup representatives, with per-stage survivor counts
#       (the shape of a real training-data curation run).
# ---------------------------------------------------------------- #

_FUNNEL_LANGS = ("en", "de", "fr")
_FUNNEL_MIN_CHARS = 150
_FUNNEL_MIN_TOKS = 25
_FUNNEL_MAX_REP2 = 0.05

_FUNNEL_SQL = f"""
    WITH RECURSIVE {_CC_CTES},
    funnel_toks AS (
        SELECT doc_id, lang, n_chars,
               {TOKENS_SQL.format(norm=NORM_SQL)} AS t,
               md5({NORM_SQL}) AS m
        FROM documents
    ),
    enriched AS (
        SELECT doc_id, lang, n_chars, m, len(t) AS ntok,
               CASE WHEN len(t) - 1 > 0 THEN
                   round(1 - len(list_distinct(list_transform(
                       range(1, len(t)),
                       i -> array_to_string(t[i:i+1], ' '))))::DOUBLE
                       / (len(t) - 1), 6)
               ELSE 0.0 END AS rep2
        FROM funnel_toks
    ),
    s2 AS (SELECT * FROM enriched
           WHERE lang IN ('en', 'de', 'fr')),
    s3 AS (SELECT * FROM s2
           WHERE n_chars >= {_FUNNEL_MIN_CHARS}
             AND ntok >= {_FUNNEL_MIN_TOKS}),
    s4 AS (SELECT * FROM s3 WHERE rep2 <= {_FUNNEL_MAX_REP2}),
    s5 AS (
        SELECT s4.doc_id FROM s4
        JOIN (SELECT m, min(doc_id) AS keep FROM s4 GROUP BY m) k
          ON s4.m = k.m AND s4.doc_id = k.keep
    )
    SELECT stage::INT AS stage, name, docs FROM (
        SELECT 1 AS stage, 'total' AS name,
               count(*)::BIGINT AS docs FROM enriched
        UNION ALL SELECT 2, 'lang_keep', count(*)::BIGINT FROM s2
        UNION ALL SELECT 3, 'quality_keep', count(*)::BIGINT FROM s3
        UNION ALL SELECT 4, 'repetition_keep', count(*)::BIGINT FROM s4
        UNION ALL SELECT 5, 'exact_unique', count(*)::BIGINT FROM s5
        UNION ALL SELECT 6, 'near_dup_reps',
               count(DISTINCT c.cluster_id)::BIGINT
               FROM s5 JOIN cc_clusters c ON s5.doc_id = c.doc_id
    )
"""


@register("corpus_funnel", _FUNNEL_SQL)
def q_corpus_funnel(spark, sf_dir):
    """End-to-end curation funnel: per-stage survivor counts for
    language keep -> quality thresholds (chars + tokens) ->
    Gopher repetition cut -> exact dedup -> near-dup cluster
    representatives.

    Plan shape: ONE conditional aggregation over the corpus joined to
    the cluster table — the nested filters become boolean sums, exact
    dedup becomes countDistinct over a guarded md5, and near-dup reps
    become countDistinct over a guarded cluster_id (identical-text
    docs always share a cluster via the exact-hash edges, so distinct
    clusters over the repetition survivors equal distinct clusters
    over the exact-unique set). At 100 TB the funnel costs one scan
    plus the cluster join — no per-stage passes."""
    from ufuzzy_spark.operators.textstats import dup_ngram_frac

    d = _table(spark, sf_dir, "documents", "doc_id")
    n = norm_col()
    t = tokens_expr(n)
    # two-step projection ON PURPOSE: dup_ngram_frac's transform lambda
    # slices its tokens argument per element, and a lambda body
    # re-evaluates a non-attribute argument on EVERY element — passing
    # the inline split expression made rep2 cost ~112 ms/doc (measured
    # 175 s for this projection alone at sf1.0, the old funnel's
    # dominant wall). Hoisting tokens into their own projection makes
    # the slice an O(1) attribute read; CollapseProject keeps the two
    # projections apart because `toks` is a multiply-referenced
    # non-trivial alias (guide §1.2 per-task work).
    toked = d.select(
        "doc_id", "lang", "n_chars", t.alias("toks"), n.alias("norm")
    )
    enriched = toked.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size("toks").alias("ntok"),
        dup_ngram_frac(F.col("toks"), 2).alias("rep2"),
        F.md5("norm").alias("m"),
    )
    clusters = q_dup_clusters(spark, sf_dir)
    keep2 = F.col("lang").isin(*_FUNNEL_LANGS)
    keep3 = (
        keep2
        & (F.col("n_chars") >= _FUNNEL_MIN_CHARS)
        & (F.col("ntok") >= _FUNNEL_MIN_TOKS)
    )
    keep4 = keep3 & (F.col("rep2") <= _FUNNEL_MAX_REP2)
    agg = enriched.join(clusters, "doc_id").agg(
        F.count("*").cast("long").alias("c1"),
        F.sum(keep2.cast("int")).cast("long").alias("c2"),
        F.sum(keep3.cast("int")).cast("long").alias("c3"),
        F.sum(keep4.cast("int")).cast("long").alias("c4"),
        F.countDistinct(F.when(keep4, F.col("m")))
        .cast("long")
        .alias("c5"),
        F.countDistinct(F.when(keep4, F.col("cluster_id")))
        .cast("long")
        .alias("c6"),
    )
    names = [
        "total", "lang_keep", "quality_keep", "repetition_keep",
        "exact_unique", "near_dup_reps",
    ]
    return agg.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).cast("int").alias("stage"),
                        F.lit(nm).alias("name"),
                        F.col(f"c{i + 1}").alias("docs"),
                    )
                    for i, nm in enumerate(names)
                ]
            )
        )
    )


# ---------------------------------------------------------------- #
# 10b. relational plans over the TPC-H tables: broadcast-dim joins,
#      multi-agg, distributed top-k (VERDICT r1 #7). Money is summed
#      in integer cents (per-row round, then BIGINT sum) so the
#      cross-engine hash never rides on float-sum association order.
# ---------------------------------------------------------------- #

def _cents(col: Column) -> Column:
    return F.round(col * 100, 0).cast("long")


@register(
    "tpch_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(round(l_quantity, 0)::BIGINT)::BIGINT AS sum_qty,
           sum(round(l_extendedprice * 100, 0)::BIGINT)::BIGINT
               AS sum_base_cents,
           sum(round(l_extendedprice * (1 - l_discount) * 100, 0)::BIGINT)
               ::BIGINT AS sum_disc_cents,
           count(*)::BIGINT AS n_rows,
           round(sum(round(l_quantity, 0)::BIGINT)::DOUBLE / count(*), 6)
               AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: predicate pushed to the scan,
    partial (map-side) aggregation before one shuffle on the 6-value
    group key."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    disc = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(disc).alias("sum_disc_cents"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_cents",
            "sum_disc_cents",
            "n_rows",
            F.round(
                F.col("sum_qty").cast("double") / F.col("n_rows"), 6
            ).alias("avg_qty"),
        )
    )


@register(
    "tpch_region_revenue",
    """
    SELECT r_name, n_name, count(*)::BIGINT AS n_orders,
           sum(round(o_totalprice * 100, 0)::BIGINT)::BIGINT AS revenue_cents
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_tpch_region_revenue(spark, sf_dir):
    """Star join: the fact-side orders x customer equi-join shuffles on
    the key; nation/region dims are explicitly broadcast (pinned by
    tests/test_plans.py — no shuffle for the dim side at any scale)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"),
        )
    )


@register(
    "tpch_top_suppliers",
    """
    WITH rev AS (
        SELECT l_suppkey,
               sum(round(l_extendedprice * (1 - l_discount) * 100, 0)::BIGINT)
                   ::BIGINT AS revenue_cents
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.revenue_cents,
           row_number() OVER (
             ORDER BY r.revenue_cents DESC, s.s_suppkey ASC)::BIGINT AS rnk
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    QUALIFY rnk <= 10
    """,
)
def q_tpch_top_suppliers(spark, sf_dir):
    """TPC-H Q15-shaped top-revenue suppliers: full agg on l_suppkey
    (map-side partials), then the distributed two-phase global top-10
    from operators/topk.py — revenue ranking never funnels the whole
    supplier table into one task."""
    from ufuzzy_spark.operators.topk import global_rank_asc

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents")
        )
        .select(
            (-F.col("revenue_cents")).alias("neg_rev"),
            F.col("l_suppkey").alias("s_suppkey"),
        )
    )
    top = global_rank_asc(rev, ["neg_rev", "s_suppkey"], 10)
    # the 10-row top-k is the broadcast side; supplier grows with SF
    return (
        supp.join(F.broadcast(top), "s_suppkey")
        .select(
            "s_suppkey",
            "s_name",
            (-F.col("neg_rev")).alias("revenue_cents"),
            "rnk",
        )
    )


# ---------------------------------------------------------------- #
# 11. event windows: tumbling + session (streaming-shaped aggs on the
#     events table; Spark native window/session_window vs SQL islands)
# ---------------------------------------------------------------- #

@register(
    "event_windows",
    """
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_event_windows(spark, sf_dir):
    """Tumbling 1-hour windowed aggregation — the batch expression of
    the streaming windowed agg (same plan under readStream)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "event_sessions",
    """
    WITH ordered AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE OR
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM ordered
    )
    SELECT user_id, session_no::BIGINT AS session_no,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           count(*)::BIGINT AS n_events
    FROM sessions GROUP BY user_id, session_no
    """,
)
def q_event_sessions(spark, sf_dir):
    """Sessionization with a 30-minute gap — expressed as the
    gaps-and-islands window form so the DuckDB oracle is exact.
    (Spark's native session_window(ts, '30 minutes') produces the
    same sessions; the islands form is used for engine parity.)"""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts")
    lag_ts = F.lag("ts").over(w)
    new_sess = F.when(
        lag_ts.isNull()
        | (F.col("ts") > lag_ts + F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    sess = (
        ev.withColumn("new_session", new_sess)
        .withColumn(
            "session_no",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return sess.groupBy(
        "user_id", F.col("session_no").cast("long").alias("session_no")
    ).agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.count("*").cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------- #
# 12. embeddings: brute-force cosine top-k + stats
# ---------------------------------------------------------------- #

_N_QUERIES = 5
_TOP_K = 5

_ANN_SQL = f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id < {_N_QUERIES}),
    c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
    pairs AS (
        SELECT qid, cid,
            list_sum(list_transform(range(1, 65),
                i -> qe[i]::DOUBLE * ce[i]::DOUBLE))
            / (sqrt(list_sum(list_transform(qe, x -> x::DOUBLE * x::DOUBLE)))
               * sqrt(list_sum(list_transform(ce, x -> x::DOUBLE * x::DOUBLE))))
            AS sim
        FROM q CROSS JOIN c WHERE qid != cid
    ),
    ranked AS (
        SELECT qid, cid, round(sim, 6) AS sim_r,
               row_number() OVER (
                 PARTITION BY qid ORDER BY round(sim, 6) DESC, cid ASC
               ) AS rnk
        FROM pairs
    )
    SELECT qid, cid, sim_r, rnk::BIGINT AS rnk FROM ranked WHERE rnk <= {_TOP_K}
"""


@register("ann_cosine_topk", _ANN_SQL)
def q_ann_cosine_topk(spark, sf_dir):
    e = _table(spark, sf_dir, "embeddings", "vec_id")
    qs = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    cs = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))

    from ufuzzy_spark.operators.ann import cosine_col

    pairs = (
        cs.crossJoin(F.broadcast(qs))
        .where(F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            cosine_col(F.col("qe"), F.col("ce")).alias("sim"),
        )
    )
    from ufuzzy_spark.operators.topk import grouped_topk

    # two-phase per-qid top-k: with Q small each naive Window partition
    # would hold the ENTIRE corpus' similarity rows (VERDICT r1 #2);
    # phase 1 prunes every scan partition to k rows per qid in parallel
    return grouped_topk(
        pairs.withColumn("sim_r", F.round("sim", 6)),
        ["qid"],
        [F.desc("sim_r"), F.asc("cid")],
        _TOP_K,
    ).select("qid", "cid", "sim_r", "rnk")


# SRP-LSH ANN (the scale path: bucketed, never all-pairs). Like the
# minhash family above, this is the md5-PARITY variant so DuckDB can
# replay candidate generation bit-for-bit; the production kernel is
# the NumPy SRP in operators/ann.py (lsh_topk), whose recall is pinned
# by tests/test_operators.py on clustered synthetic vectors.
#
# Spark computes the planes ONCE in Python (identical md5 formula) and
# broadcasts them as a 32-row dim table — the sign test is then one
# zip_with fold per (vector, plane), never an md5 inside a lambda.
# DuckDB recomputes the same planes inline at runtime (cheap there).
# Cross-engine value identity: float(h) FIRST (both engines cast the
# 60-bit int to double before dividing), then exact power-of-two
# division and the same subtraction.
_SRP_BANDS = 4
_SRP_BITS = 8
_2P59 = "576460752303423488.0"  # 2^59: h60 -> [-1, 1) plane component


def _srp_plane(p: int, i: int) -> float:
    import hashlib

    h = int(hashlib.md5(f"srp|{p}|{i}".encode()).hexdigest()[:15], 16)
    return float(h) / 576460752303423488.0 - 1.0


_SRP_PLANES = [
    [_srp_plane(p, i) for i in range(64)]
    for p in range(_SRP_BANDS * _SRP_BITS)
]

_SRP_BUCKETS_SQL = f"""
list_transform(range({_SRP_BANDS}), b ->
  (b::BIGINT << 32) + list_sum(list_transform(range({_SRP_BITS}), k ->
    CASE WHEN list_sum(list_transform(range(64), i ->
      embedding[i + 1]::DOUBLE *
      ((('0x' || substr(md5('srp|' || (b * {_SRP_BITS} + k) || '|' || i),
          1, 15))::BIGINT / {_2P59}) - 1.0)
    )) > 0 THEN (1::BIGINT << k) ELSE 0 END))::BIGINT
)
"""


def _srp_buckets_df(spark, e: DataFrame) -> DataFrame:
    """(vec_id, bkt) — one row per (vector, band); bkt packs the band
    id above the sign bits so same-band matching is implicit.

    r06 shape: ONE crossJoin row per (vector, band) — the band's 8
    planes ride along as array<array<double>> and the 8 sign bits fold
    inline, so the old (vector, band, k) ×32 fanout and its
    groupBy(vec_id, band) Exchange are gone (guide §2.3 "aggregate
    before you shuffle" taken to zero shuffles). Float parity: the
    per-plane dot is the same zip_with + left-fold as before (and as
    the DuckDB oracle's list_sum), and the bit sum is integer."""
    planes_b = spark.createDataFrame(
        [
            (b, [_SRP_PLANES[b * _SRP_BITS + k] for k in range(_SRP_BITS)])
            for b in range(_SRP_BANDS)
        ],
        "band int, planes array<array<double>>",
    )
    bkt = F.expr(
        f"""
        shiftleft(CAST(band AS BIGINT), 32) + aggregate(
          sequence(0, {_SRP_BITS - 1}), 0L,
          (acc, k) -> acc + IF(
            aggregate(zip_with(embedding, planes[k],
                               (x, y) -> CAST(x AS DOUBLE) * y),
                      CAST(0.0 AS DOUBLE), (a, v) -> a + v) > 0,
            shiftleft(1L, k), 0L))
        """
    )
    return e.crossJoin(F.broadcast(planes_b)).select(
        "vec_id", bkt.alias("bkt")
    )

_ANN_SRP_SQL = f"""
    WITH sigs AS (
        SELECT vec_id, embedding, {_SRP_BUCKETS_SQL} AS buckets
        FROM embeddings
    ),
    qb AS (SELECT vec_id AS qid, t.bkt
           FROM sigs, unnest(buckets) AS t(bkt) WHERE vec_id < {_N_QUERIES}),
    cb AS (SELECT vec_id AS cid, t.bkt FROM sigs, unnest(buckets) AS t(bkt)),
    cand AS (
        SELECT DISTINCT qid, cid FROM qb JOIN cb USING (bkt)
        WHERE qid != cid
    ),
    sims AS (
        SELECT c.qid, c.cid,
               round(
                 list_sum(list_transform(range(1, 65),
                     i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))
                 / (sqrt(list_sum(list_transform(q.embedding,
                        x -> x::DOUBLE * x::DOUBLE)))
                    * sqrt(list_sum(list_transform(e.embedding,
                        x -> x::DOUBLE * x::DOUBLE)))), 6) AS sim_r
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.qid
        JOIN embeddings e ON e.vec_id = c.cid
    )
    SELECT qid, cid, sim_r,
           row_number() OVER (
             PARTITION BY qid ORDER BY sim_r DESC, cid ASC)::BIGINT AS rnk
    FROM sims
    QUALIFY rnk <= {_TOP_K}
"""


@register("ann_srp_topk", _ANN_SRP_SQL)
def q_ann_srp_topk(spark, sf_dir):
    """Signed-random-projection LSH ANN (SURVEY pipeline operator;
    operators/ann.py:lsh_topk is the NumPy production twin): bucket =
    packed sign bits of md5-seeded hyperplane projections, candidates
    = same (band, bucket) pairs — a broadcast equi-join, never a
    corpus cross-join — then exact cosine re-rank of candidates only
    via two-phase top-k."""
    from ufuzzy_spark.operators.topk import grouped_topk

    e = _table(spark, sf_dir, "embeddings", "vec_id")
    buckets = _srp_buckets_df(spark, e)
    qb = buckets.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), "bkt"
    )
    cb = buckets.select(F.col("vec_id").alias("cid"), "bkt")
    cand = (
        cb.join(F.broadcast(qb), "bkt")
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )

    from ufuzzy_spark.operators.ann import cosine_col

    qe = e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    ce = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    sims = (
        cand.join(F.broadcast(qe), "qid")
        .join(ce, "cid")
        .select(
            "qid",
            "cid",
            F.round(cosine_col(F.col("qe"), F.col("ce")), 6).alias("sim_r"),
        )
    )
    return grouped_topk(
        sims, ["qid"], [F.desc("sim_r"), F.asc("cid")], _TOP_K
    ).select("qid", "cid", "sim_r", "rnk")


# IVF-flat ANN (the second scale path beside SRP: inverted lists from
# a coarse quantizer, nprobe lists probed per query). Like the SRP
# query this is the md5-PARITY variant so DuckDB replays the whole
# structure bit-for-bit: the codebook is the _IVF_K corpus vectors
# with the smallest md5('ivf|'||vec_id) — no Lloyd iterations, whose
# mean reductions are float-order-dependent and cannot hash-match
# across engines. The production kernel (operators/ann.py:ivf_topk)
# trains a real spherical k-means; its recall is pinned by
# tests/test_operators.py::test_ann_ivf_topk_recall_on_clustered_vectors.
#
# Cross-engine exactness of the ARGMAX/probe structure: both engines
# compute cosine as the identical left-to-right double fold (the
# established zip_with/aggregate == list_transform/list_sum parity),
# so comparisons and row_number ties-by-cent_id agree exactly; only
# the reported sim is rounded.
_IVF_K = 8
_IVF_NPROBE = 2

_IVF_COS = """
    list_sum(list_transform(range(1, 65),
        i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))
    / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE))))
"""

_ANN_IVF_SQL = f"""
    WITH h AS (
        SELECT vec_id, embedding,
               ('0x' || substr(md5('ivf|' || vec_id::VARCHAR), 1, 15))::BIGINT
                   AS hv
        FROM embeddings
    ),
    seeds AS (SELECT vec_id, embedding, hv FROM h
              ORDER BY hv, vec_id LIMIT {_IVF_K}),
    cents AS (
        SELECT a.embedding AS cvec,
               (SELECT count(*) FROM seeds b
                 WHERE b.hv < a.hv
                    OR (b.hv = a.hv AND b.vec_id < a.vec_id))::BIGINT AS cent_id
        FROM seeds a
    ),
    sims_all AS (
        SELECT e.vec_id, c.cent_id,
               {_IVF_COS.format(a='e.embedding', b='c.cvec')} AS sim
        FROM embeddings e CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id AS cid, cent_id FROM (
            SELECT vec_id, cent_id,
                   row_number() OVER (
                     PARTITION BY vec_id ORDER BY sim DESC, cent_id ASC) AS r
            FROM sims_all) WHERE r = 1
    ),
    probes AS (
        SELECT vec_id AS qid, cent_id FROM (
            SELECT vec_id, cent_id,
                   row_number() OVER (
                     PARTITION BY vec_id ORDER BY sim DESC, cent_id ASC) AS r
            FROM sims_all WHERE vec_id < {_N_QUERIES}) WHERE r <= {_IVF_NPROBE}
    ),
    cand AS (
        SELECT p.qid, a.cid FROM probes p JOIN assigned a USING (cent_id)
        WHERE a.cid != p.qid
    ),
    resim AS (
        SELECT c.qid, c.cid,
               round({_IVF_COS.format(a='q.embedding', b='e.embedding')}, 6)
                   AS sim_r
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.qid
        JOIN embeddings e ON e.vec_id = c.cid
    )
    SELECT qid, cid, sim_r,
           row_number() OVER (
             PARTITION BY qid ORDER BY sim_r DESC, cid ASC)::BIGINT AS rnk
    FROM resim QUALIFY rnk <= {_TOP_K}
"""


@register("ann_ivf_topk", _ANN_IVF_SQL)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF-flat ANN (operators/ann.py:ivf_topk is the k-means
    production twin): the corpus is partitioned into _IVF_K inverted
    lists by argmax-cosine against an md5-selected codebook; each
    query probes its _IVF_NPROBE nearest lists; exact cosine re-rank
    within — candidates ~ N * nprobe / K, never all-pairs. Every
    ranking is the two-phase grouped_topk (no unpartitioned Window);
    every crossJoin broadcasts the K-row codebook."""
    from ufuzzy_spark.operators.topk import grouped_topk

    e = _table(spark, sf_dir, "embeddings", "vec_id")

    from ufuzzy_spark.operators.ann import cosine_col as cos

    hv = F.expr(
        "CAST(conv(substr(md5(concat('ivf|', CAST(vec_id AS STRING))), "
        "1, 15), 16, 10) AS BIGINT)"
    )
    seeds = (
        e.select("vec_id", "embedding", hv.alias("hv"))
        .orderBy("hv", "vec_id")
        .limit(_IVF_K)
    )
    # rank the K seed rows into cent_ids WITHOUT a Window: cent_id =
    # count of strictly-smaller (hv, vec_id) peers (K x K broadcast)
    peers = seeds.select(
        F.col("hv").alias("hb"), F.col("vec_id").alias("ib")
    )
    cents = (
        seeds.crossJoin(F.broadcast(peers))
        .groupBy("vec_id", "embedding")
        .agg(
            F.sum(
                F.when(
                    (F.col("hb") < F.col("hv"))
                    | ((F.col("hb") == F.col("hv")) & (F.col("ib") < F.col("vec_id"))),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("cent_id")
        )
        .select("cent_id", F.col("embedding").alias("cvec"))
    )

    sims_all = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cent_id", cos(F.col("embedding"), F.col("cvec")).alias("sim")
    )
    assigned = grouped_topk(
        sims_all, ["vec_id"], [F.desc("sim"), F.asc("cent_id")], 1
    ).select(F.col("vec_id").alias("cid"), "cent_id")
    probes = grouped_topk(
        sims_all.where(F.col("vec_id") < _N_QUERIES),
        ["vec_id"],
        [F.desc("sim"), F.asc("cent_id")],
        _IVF_NPROBE,
    ).select(F.col("vec_id").alias("qid"), "cent_id")

    # each corpus vector is in exactly ONE list and the probe set per
    # qid holds distinct cent_ids — no dedup shuffle needed
    cand = (
        assigned.join(F.broadcast(probes), "cent_id")
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
    )
    qe = e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    ce = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    resim = (
        cand.join(F.broadcast(qe), "qid")
        .join(ce, "cid")
        .select(
            "qid",
            "cid",
            F.round(cos(F.col("qe"), F.col("ce")), 6).alias("sim_r"),
        )
    )
    return grouped_topk(
        resim, ["qid"], [F.desc("sim_r"), F.asc("cid")], _TOP_K
    ).select("qid", "cid", "sim_r", "rnk")


@register(
    "embedding_stats",
    """
    SELECT label,
           count(*)::BIGINT AS n,
           round(avg(sqrt(list_sum(list_transform(embedding,
                 x -> x::DOUBLE * x::DOUBLE)))), 6) AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def q_embedding_stats(spark, sf_dir):
    e = _table(spark, sf_dir, "embeddings", "vec_id")
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return e.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg(norm), 6).alias("avg_norm"),
    )


# embedding-cosine near-dup dedup: the embedding-space twin of the
# text dedup pipeline (LSH buckets -> verify -> connected comps).
# Same md5-parity SRP planes as ann_srp_topk so DuckDB replays
# candidate generation bit-for-bit; tau picked so the uniform-random
# testdata vectors (CLAUDE.md: no cluster structure) still yield a
# nontrivial edge set (74 edges @ sf0.01, 1069 @ sf0.1).
_NEARDUP_TAU = 0.3

_EMB_NEARDUP_SQL = f"""
    WITH RECURSIVE sigs AS MATERIALIZED (
        SELECT vec_id, embedding, {_SRP_BUCKETS_SQL} AS buckets
        FROM embeddings
    ),
    -- MATERIALIZED: DuckDB 1.0 inlines CTEs, so without it every
    -- closure iteration re-runs the full SRP+cosine pipeline
    -- (measured 95 s -> 2.2 s at sf0.1)
    ab AS (SELECT vec_id, t.bkt FROM sigs, unnest(buckets) AS t(bkt)),
    cand AS (
        SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
        FROM ab a JOIN ab b USING (bkt) WHERE a.vec_id < b.vec_id
    ),
    edges AS MATERIALIZED (
        SELECT ia, ib FROM cand
        JOIN embeddings x ON x.vec_id = ia
        JOIN embeddings y ON y.vec_id = ib
        WHERE round(
            list_sum(list_transform(range(1, 65),
                i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE))
            / (sqrt(list_sum(list_transform(x.embedding,
                   v -> v::DOUBLE * v::DOUBLE)))
               * sqrt(list_sum(list_transform(y.embedding,
                   v -> v::DOUBLE * v::DOUBLE)))), 6) >= {_NEARDUP_TAU}
    ),
    sym AS MATERIALIZED (
        SELECT ia AS a, ib AS b FROM edges
        UNION SELECT ib, ia FROM edges
    ),
    reach AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT e.vec_id,
           least(e.vec_id, COALESCE(min(r.b), e.vec_id)) AS cluster_id
    FROM embeddings e LEFT JOIN reach r ON r.a = e.vec_id
    GROUP BY e.vec_id
"""


@register("embedding_near_dup", _EMB_NEARDUP_SQL)
def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup dedup (SURVEY §2 LLM-pipeline
    component; brief's fifth dedup mode): SRP-LSH buckets — a bucketed
    equi-join, never a corpus cross-join — then exact cosine >= tau
    verification on candidates only, then connected components with
    singletons kept (cluster_id = min vec_id, the dup_clusters
    convention). Bucket recall on CLUSTERED vectors is pinned by the
    ann tests in tests/test_operators.py; here the oracle replays the
    identical md5-parity bucket generation, so engine PARITY (not
    recall on structureless uniform-random testdata) is the contract.
    At 100 TB every stage is an equi-join or groupBy on bucket/pair
    keys; the all-pairs cosine exists only inside a bucket."""
    from ufuzzy_spark.operators.components import connected_components

    e, n_embs = _resident(spark, sf_dir, "embeddings", "vec_id")
    buckets = _srp_buckets_df(spark, e)
    cand = (
        buckets.select(F.col("vec_id").alias("ia"), "bkt")
        .join(buckets.select(F.col("vec_id").alias("ib"), "bkt"), "bkt")
        .where(F.col("ia") < F.col("ib"))
        .select("ia", "ib")
        .distinct()
    )

    from ufuzzy_spark.operators.ann import cosine_col

    # attach embeddings to the pair table via guarded broadcast (r06):
    # candidate pairs outnumber vectors by orders of magnitude inside
    # dense SRP buckets, so the two sort-merge attach joins shuffled
    # the pair table twice (guide §8); one built relation of ~380
    # B/row (float[64] + id, measured) for both sides
    vecs = broadcast_once(
        e.select("vec_id", "embedding"), fits_broadcast(n_embs, 400)
    )
    xe, ye = (
        vecs.select(F.col("vec_id").alias(i), F.col("embedding").alias(v))
        for i, v in (("ia", "xe"), ("ib", "ye"))
    )
    edges = (
        cand.join(xe, "ia")
        .join(ye, "ib")
        .where(
            F.round(cosine_col(F.col("xe"), F.col("ye")), 6) >= _NEARDUP_TAU
        )
        .select("ia", "ib")
    )
    cc = connected_components(
        edges.select(F.col("ia").alias("url_a"), F.col("ib").alias("url_b")),
        all_nodes=e.select(F.col("vec_id").alias("url")),
    )
    return cc.select(F.col("url").alias("vec_id"), "cluster_id")


# ---------------------------------------------------------------- #
# 17. multimodal image decode (SURVEY §2 LLM-pipeline components)
# ---------------------------------------------------------------- #

_IMG_FIXTURE = str(
    Path(__file__).resolve().parent.parent / "fixtures" / "images.parquet"
)
_IMG_EXPECTED = str(
    Path(__file__).resolve().parent.parent
    / "fixtures"
    / "images_expected.parquet"
)


@register(
    "image_metadata",
    f"""
    -- oracle = generator-INTENT expected table (the single_error
    -- pattern, VERDICT r2 #6): the dimensions each container was
    -- built with, sha1 over the payload bytes, and 54+4-aligned-rows
    -- BMP arithmetic for the thumbnail size — all computed in
    -- scripts/gen_image_fixture.py independently of the decode code
    -- under test (staleness-guarded by tests/test_entry_parity.py).
    SELECT url, format, width, height, n_bytes, content_sha1,
           thumb_n_bytes
    FROM read_parquet('{_IMG_EXPECTED}')
    """,
)
def q_image_metadata(spark, sf_dir):
    """Multimodal decode over binary payloads (multimodal/decode.py):
    mapInPandas header parse (PNG IHDR / JPEG SOF walk / GIF LSD /
    WebP VP8* / BMP DIB) + REAL pixel decode and BMP-thumbnail
    re-encode for PNG/BMP; codec-requiring formats carry NULL thumbs.
    Exercises the Arrow batch shape, binary columns, and nullable
    output schema end-to-end."""
    from ufuzzy_spark.multimodal.decode import decode_images

    imgs = spark.read.parquet(_IMG_FIXTURE)
    return decode_images(imgs).select(
        "url",
        "format",
        "width",
        "height",
        "n_bytes",
        "content_sha1",
        F.length("thumb").cast("int").alias("thumb_n_bytes"),
    )


_MEDIA_FIXTURE = str(
    Path(__file__).resolve().parent.parent / "fixtures" / "media.parquet"
)
_MEDIA_EXPECTED = str(
    Path(__file__).resolve().parent.parent
    / "fixtures"
    / "media_expected.parquet"
)


@register(
    "media_metadata",
    f"""
    -- oracle = generator-INTENT expected table (the image_metadata
    -- pattern): the rates/durations/dimensions each container was
    -- built with, sha1 over payload bytes, and NumPy arithmetic over
    -- the synthesized PCM — computed in scripts/gen_media_fixture.py
    -- independently of the decode code under test (staleness-guarded
    -- by tests/test_entry_parity.py).
    SELECT url, format, duration_ms, sample_rate, channels, width,
           height, n_bytes, content_sha1, pcm_n_samples, pcm_peak
    FROM read_parquet('{_MEDIA_EXPECTED}')
    """,
)
def q_media_metadata(spark, sf_dir):
    """Audio/video decode over binary payloads (multimodal/media.py):
    mapInPandas header parse (WAV RIFF walk / FLAC STREAMINFO
    bitfields / MP3 ID3-skip + MPEG frame header / MP4 ISO-BMFF box
    walk) + REAL PCM16 sample decode for WAV (frame count + peak
    amplitude); compressed codecs carry NULL pcm columns. Exercises
    binary columns, nullable long/int outputs, and the Arrow batch
    shape end-to-end."""
    from ufuzzy_spark.multimodal.media import decode_media

    media = spark.read.parquet(_MEDIA_FIXTURE)
    return decode_media(media)


# ---------------------------------------------------------------- #
# 18. incremental ingest over catalog snapshots (SURVEY §2 #14;
#     streaming/incremental.py)
# ---------------------------------------------------------------- #


@register(
    "incremental_ingest",
    """
    -- resume_lineage pattern (VERDICT r2 #5): the relational values
    -- are recomputed here; the invariant rows are PROVEN by the Spark
    -- side actually running streaming/incremental.py twice at query
    -- time — a broken new x all pairing, a dead retirement path, or an
    -- incremental-vs-batch divergence flips them and the hash gate
    -- goes red. doc_id % 100 = 0 rows get a planted near-dup (snap1)
    -- and a rep-churn exact twin (snap2), mirrored in the counts here.
    SELECT 'docs_total' AS metric, count(*)::BIGINT AS value FROM documents
    UNION ALL
    SELECT 'snap1_docs', (count(*) FILTER (WHERE doc_id % 10 <> 9)
                          + count(*) FILTER (WHERE doc_id % 100 = 0))::BIGINT
    FROM documents
    UNION ALL
    SELECT 'snap2_docs', (count(*) FILTER (WHERE doc_id % 10 = 9)
                          + count(*) FILTER (WHERE doc_id % 100 = 0))::BIGINT
    FROM documents
    UNION ALL
    SELECT 'mode_delta', 1
    UNION ALL
    SELECT 'reps_churned_min1', 1
    UNION ALL
    SELECT 'pairs_retired_min1', 1
    UNION ALL
    SELECT 'dissolved_min1', 1
    UNION ALL
    SELECT 'old_x_old_reverified', 0
    UNION ALL
    SELECT 'incremental_equals_batch', 1
    """,
)
def q_incremental_ingest(spark, sf_dir):
    """Incremental dedup over two catalog snapshots at the production
    shape (VERDICT r4 wrong #1): snapshot 1 = 90% of docs (doc_id % 10
    != 9), snapshot 2 = the remaining 10% — the crawl-cadence case the
    O(new + touched) machinery is FOR, not the 50/50 worst case that
    degenerates to full recompute plus bookkeeping (that regime is the
    adaptive cutover's job, pinned by
    tests/test_operators.py::test_cutover_matches_batch_and_incremental).

    The delta leg's hard paths still fire, via deterministic plants on
    doc_id % 100 == 0 rows: snapshot 1 carries a NEAR-dup of each
    ("doc:/~" url, text + " zzqq" — one extra token, shingle Jaccard
    ~0.95, verified dup in snapshot 1's state), snapshot 2 carries an
    exact twin under a SMALLER url ("doc:/!" sorts before "doc://"),
    which churns the content's exact-dedup rep, re-keys its bucket
    postings, RETIRES the verified pair (old_rep, near_dup) by
    refcount, and dissolves + re-solves the incident component.

    Pinned invariants (each an oracle row): snapshot 2 takes the delta
    leg (mode_delta), rep churn / pair retirement / dissolution all
    fired (the *_min1 rows), zero old x old pairs re-VERIFIED (the new
    pair re-attaches from the hash-pair verdict memo — expensive
    stages stay O(new)), and final clusters equal one batch
    run_pipeline over the union of both snapshots — exact under the
    production bucket cap, because candidate generation reruns the
    same capped operator over cumulative state (the prefixCache reuse
    idea at pipeline scale, demos/compare.html:562-601)."""
    import shutil
    import tempfile

    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.pipeline import run_pipeline
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    d = _table(spark, sf_dir, "documents", "doc_id")

    def page_cols(url_prefix, text_col):
        return [
            F.concat(
                F.lit(url_prefix), F.format_string("%07d", "doc_id")
            ).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.encode(text_col, "UTF-8").alias("html"),
            text_col.alias("text"),
            F.lit("en").alias("lang"),
        ]

    base = d.select(*page_cols("doc://", F.col("text")), "doc_id")
    plant_src = d.where(F.col("doc_id") % 100 == 0)
    # near-dup of each plant target, distinct content after
    # normalization (norm_text keeps letters), same LSH buckets w.h.p.
    near_dups = plant_src.select(
        *page_cols("doc:/~", F.concat(F.col("text"), F.lit(" zzqq")))
    )
    # exact twin under a url that sorts BEFORE the original
    # ('!' < '/'): churns the content's min-url rep in snapshot 2
    churn_twins = plant_src.select(*page_cols("doc:/!", F.col("text")))

    snap1 = base.where(F.col("doc_id") % 10 != 9).drop("doc_id").unionByName(
        near_dups
    )
    snap2 = base.where(F.col("doc_id") % 10 == 9).drop("doc_id").unionByName(
        churn_twins
    )
    n1, n2 = snap1.count(), snap2.count()

    tmp = tempfile.mkdtemp(prefix="ufz_incr_entry_")
    try:
        cat = LocalParquetCatalog(tmp)
        incremental_dedup(spark, cat, snap1)
        stats: dict = {}
        final = incremental_dedup(spark, cat, snap2, stats_out=stats)

        batch_res = run_pipeline(spark, snap1.unionByName(snap2))
        # scale-safe set equality (VERDICT r3 wrong #3): symmetric
        # exceptAll counts instead of collecting both cluster tables
        # to the driver — the sf0.1 parity sweep runs this query too
        inc_kv = final.select("url", "cluster_id")
        bat_kv = batch_res.clusters.select("url", "cluster_id")
        n_diff = (
            inc_kv.exceptAll(bat_kv).count() + bat_kv.exceptAll(inc_kv).count()
        )
        batch_res.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    rows = [
        ("docs_total", d.count()),
        ("snap1_docs", n1),
        ("snap2_docs", n2),
        ("mode_delta", 1 if stats.get("mode") == "delta" else 0),
        ("reps_churned_min1", 1 if stats["reps_churned"] >= 1 else 0),
        ("pairs_retired_min1", 1 if stats["pairs_removed"] >= 1 else 0),
        ("dissolved_min1", 1 if stats["dissolved_components"] >= 1 else 0),
        ("old_x_old_reverified", int(stats["old_x_old_reverified"])),
        ("incremental_equals_batch", 1 if n_diff == 0 else 0),
    ]
    return spark.createDataFrame(rows, "metric string, value long")
