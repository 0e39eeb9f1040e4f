"""Round-8 mining surface: sequence-path mining over the event stream,
ROUGE-1 overlap scoring of near-dup pairs, rolling exact quantiles over
the revenue series, and distributed BPE merge learning.

Reference parity: the reference (MerrimanLab/gwasDB) has no operators in
this family — these extend the engine along the mandated
training-data-pipeline axis (dedup diagnostics, tokenizer learning)
plus the event/series analytics users of a warehouse expect.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gwasdb_spark.catalog import table
from gwasdb_spark.plans.base import query
from gwasdb_spark.plans.helpers import stage_dir

# The x02 candidate-pair CTEs, restated for oracles that consume the
# near-dup pair set (3-gram shingles, <=100-doc frequency prune,
# jaccard >= 0.12 — operators/dedup.py ngram_jaccard_pairs defaults as
# fixed by x02_ngram_jaccard_pairs).
_NEARDUP_PAIRS_CTE = """
    sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(w) - 2, 0) + 1),
                 i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents)
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    exsh AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    rare AS (SELECT shingle FROM exsh GROUP BY shingle HAVING COUNT(*) <= 100),
    pruned AS (SELECT exsh.doc_id, exsh.shingle
               FROM exsh JOIN rare USING (shingle)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM pruned a JOIN pruned b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.12
    )
"""


@query(
    "e11_top_paths",
    "X-events,X-analytics",
    oracle="""
    WITH g AS (
      SELECT event_type AS s1,
             LEAD(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS s2,
             LEAD(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS s3
      FROM events
    )
    SELECT s1 || '>' || s2 || '>' || s3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM g WHERE s3 IS NOT NULL
    GROUP BY 1
    ORDER BY n_paths DESC, path
    LIMIT 10
    """,
)
def e11_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern head: the 10 most common 3-step event-type
    paths across all user sessions — the "what do users actually do"
    report that funnels (x35) presuppose an answer to. Shape: ONE
    per-user ordered window produces both lookaheads, the path grain is
    |event types|^3-bounded (125 cells here) so the aggregate is a
    shuffle of skinny triples, and the head is TakeOrdered (never a
    global sort). Ties at the cut break on path string — deterministic
    in both engines."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    ).filter(F.col("s3").isNotNull())
    return (
        g.groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .select(
            F.concat_ws(">", "s1", "s2", "s3").alias("path"), "n_paths"
        )
        .orderBy(F.col("n_paths").desc(), "path")
        .limit(10)
    )


@query(
    "x139_rouge_overlap",
    "X-dedup,X-eval",
    oracle="WITH "
    + _NEARDUP_PAIRS_CTE
    + """,
    toks AS (
      SELECT doc_id, t AS tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
            FROM documents)
      GROUP BY 1, 2
    ),
    ntok AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM toks GROUP BY 1),
    ov AS (
      SELECT p.id_a, p.id_b,
             CAST(SUM(LEAST(ta.c, tb.c)) AS BIGINT) AS n_overlap
      FROM pairs p
      JOIN toks ta ON ta.doc_id = p.id_a
      JOIN toks tb ON tb.doc_id = p.id_b AND tb.tok = ta.tok
      GROUP BY 1, 2
    )
    SELECT ov.id_a, ov.id_b, n_overlap,
           ROUND(2.0 * n_overlap / (na.n + nb.n), 9) AS rouge1_f1
    FROM ov
    JOIN ntok na ON na.doc_id = ov.id_a
    JOIN ntok nb ON nb.doc_id = ov.id_b
    """,
)
def x139_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 F1 for every near-dup candidate pair: Jaccard (x02)
    counts DISTINCT shared shingles, which under-weights repeated
    boilerplate; ROUGE-1's clipped-multiset overlap Σ min(c_a, c_b) is
    the summarization-literature measure of how much of one doc's
    surface the other reproduces. F1 = 2·overlap/(n_a + n_b) — the
    precision/recall harmonic collapses to an exact integer ratio, so
    only the final division rounds (9 dp).

    Shape: the pair set is x02's bounded candidate output (shared
    shingle exchange, frequency-pruned — NEVER all-pairs); token
    multisets ride as (doc, 60-bit md5 digest, count) rows so both
    overlap joins shuffle 8-byte keys, not token strings; overlap =
    one join keyed (doc pair via id_a, digest) bounded by
    |pairs|·|tokens per doc|. Oracle joins token strings — digest
    collisions are the usual 2^-60 contract (x130's discipline)."""
    from gwasdb_spark.operators.dedup import ngram_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.12, max_shingle_docs=100
    ).select("id_a", "id_b")
    h60 = lambda c: F.conv(  # noqa: E731 — column-expression shorthand
        F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10
    ).cast("long")
    toks = (
        d.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t"),
        )
        .groupBy("doc_id", h60(F.col("t")).alias("tok"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # feeds both pair sides and the per-doc totals — pin so the
        # tokenize + digest pipeline runs once
        .localCheckpoint(eager=False)
    )
    ntok = toks.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    ta = toks.select(
        F.col("doc_id").alias("id_a"), "tok", F.col("c").alias("ca")
    )
    tb = toks.select(
        F.col("doc_id").alias("id_b"), "tok", F.col("c").alias("cb")
    )
    ov = (
        pairs.join(ta, "id_a")
        .join(tb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("ca", "cb")).cast("long").alias("n_overlap"))
    )
    na = ntok.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    nb = ntok.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        ov.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_overlap",
            F.round(
                2.0 * F.col("n_overlap") / (F.col("na") + F.col("nb")), 9
            ).alias("rouge1_f1"),
        )
    )


@query(
    "w11_rolling_median",
    "X-window,X-series",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               AS x
      FROM orders GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(x AS BIGINT) AS revenue_cents,
           ROUND(quantile_cont(x, 0.5) OVER w7, 6) AS med7,
           ROUND(quantile_cont(x, 0.9) OVER w7, 6) AS p90_7
    FROM d
    WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def w11_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT 7-day median and p90 of daily revenue — the
    robust-trend twin of w06's EWMA (a single fat-finger day saturates
    a mean-based smoother; the median shrugs it off). Both engines use
    linear-interpolation quantiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`) over the same integer-cents values, so the only
    inexactness is the interpolation midpoint — halves are exact in
    binary, 6-dp round absorbs nothing real. The ordered window runs
    on the DAILY relation — calendar-bounded (#days rows), the
    x131/x72 allowlist class — never on orders."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("double")
        .alias("x")
    )
    w7 = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("long").alias("revenue_cents"),
        F.round(F.expr("percentile(x, 0.5)").over(w7), 6).alias("med7"),
        F.round(F.expr("percentile(x, 0.9)").over(w7), 6).alias("p90_7"),
    )


def _merge_batch_udf(pairs: list[tuple[str, str]]):
    """Arrow-batched application of a RANK-ORDERED batch of BPE merge
    rules to the symbol arrays (sequential merge-with-skip per rule —
    not expressible in `transform`, which cannot consume two positions
    per step). Applying the batch rule-by-rule inside one UDF is
    exactly the sequential global application of each rule (each rule
    is a per-word transform), for one Spark job instead of |batch|."""

    @F.pandas_udf("array<string>")
    def _apply(syms: pd.Series) -> pd.Series:
        def m(s):
            for left, right in pairs:
                merged = left + right
                out, i, n = [], 0, len(s)
                while i < n:
                    if i + 1 < n and s[i] == left and s[i + 1] == right:
                        out.append(merged)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                s = out
            return s

        return syms.map(m)

    return _apply


_BPE_MERGE_SCHEMA = (
    "rank int, left string, right string, merged string, pair_freq long"
)


def _corpus_fingerprint(sf_dir: str) -> str:
    """Cheap metadata fingerprint of the documents corpus: total bytes
    + max mtime-ns over the parquet file(s). Pure os.stat — no Spark
    job. If the parquet at this path is ever REGENERATED, the
    fingerprint (and so the stage key) changes, so a warm stage can
    never silently serve a stale tokenizer for new data (ADVICE r9)."""
    p = os.path.join(sf_dir, "documents.parquet")
    paths = [p]
    if os.path.isdir(p):
        paths = [
            os.path.join(p, f)
            for f in os.listdir(p)
            if f.endswith(".parquet")
        ] or [p]
    size, mtime = 0, 0
    for q in paths:
        st = os.stat(q)
        size += st.st_size
        mtime = max(mtime, st.st_mtime_ns)
    return f"{size}_{mtime}"


def _bpe_recursive_cte(k: int, per_source: bool) -> str:
    """The shared WITH RECURSIVE body replaying the greedy BPE learn
    loop in DuckDB — the g07/g20 sorted-list discipline extended to a
    MULTI-ROW recursive state (DuckDB allows aggregates and window
    functions in the recursive term, unlike PostgreSQL): the working
    table carries one row per vocabulary word, each step (a) explodes
    adjacent symbol pairs, (b) computes every pair's corpus frequency
    with one window SUM, (c) picks the (freq DESC, left, right) argmax
    via FIRST_VALUE over the whole frame, (d) applies the winning merge
    to every word, and (e) GROUPs back to word grain (without the
    group-back the pair explode compounds exponentially across
    iterations).

    The merge-apply trick: symbol arrays are carried as strings with
    every symbol wrapped as chr(2)||sym||chr(3), so a single replace()
    of '\\x02L\\x03\\x02R\\x03' with '\\x02LR\\x03' IS the sequential
    merge-with-skip (left-to-right, non-overlapping, consumed pairs
    skipped) — plain string replace has exactly classic BPE's scan
    semantics once symbol boundaries cannot overlap. chr(2)/chr(3)
    never occur in the corpora (control bytes); the python-twin parity
    tests would catch a violation.

    `per_source` threads the documents' source column through the
    state (word grain becomes (source, word); pair counts still SUM
    globally across rows, which equals the unsplit counts) so the
    x150 apply stats can aggregate the final state per source."""
    src_col = "source, " if per_source else ""
    src_group = "source, " if per_source else ""
    return f"""base AS (
      SELECT {src_col}CAST(COUNT(*) AS BIGINT) AS freq,
             list_aggregate(
               list_transform(
                 list_concat(
                   list_filter(string_split(w, ''), c -> c <> ''),
                   ['</w>']),
                 s -> chr(2) || s || chr(3)),
               'string_agg', '') AS wrapped
      FROM (SELECT {src_col}unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY {src_group}w
    ),
    t AS (
      SELECT 0 AS iter, {src_col}wrapped, freq,
             CAST(NULL AS VARCHAR) AS bl, CAST(NULL AS VARCHAR) AS br,
             CAST(NULL AS BIGINT) AS bcnt
      FROM base
      UNION ALL
      SELECT iter + 1,
             {src_col}replace(wrapped,
                     chr(2) || bl2 || chr(3) || chr(2) || br2 || chr(3),
                     chr(2) || bl2 || br2 || chr(3)),
             freq, bl2, br2, bcnt2
      FROM (
        SELECT iter, {src_col}wrapped, freq,
               FIRST_VALUE(l) OVER win AS bl2,
               FIRST_VALUE(r) OVER win AS br2,
               FIRST_VALUE(cnt) OVER win AS bcnt2
        FROM (
          SELECT s.iter, {('s.source, ' if per_source else '')}s.wrapped,
                 s.freq, u.p.l AS l, u.p.r AS r,
                 SUM(s.freq) OVER (PARTITION BY u.p.l, u.p.r) AS cnt
          FROM (
            SELECT iter, {src_col}wrapped, freq,
                   CASE WHEN len(syms) < 2
                        THEN [CAST(NULL AS STRUCT(l VARCHAR, r VARCHAR))]
                        ELSE list_transform(range(1, len(syms)),
                               j -> struct_pack(l := syms[j], r := syms[j+1]))
                   END AS plist
            FROM (
              SELECT iter, {src_col}wrapped, freq,
                     string_split(trim(wrapped, chr(2) || chr(3)),
                                  chr(3) || chr(2)) AS syms
              FROM t WHERE iter < {k}
            )
          ) s, unnest(s.plist) u(p)
        )
        WINDOW win AS (ORDER BY (l IS NULL), cnt DESC, l, r
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING)
      )
      WHERE bl2 IS NOT NULL
      GROUP BY iter, {src_group}wrapped, freq, bl2, br2, bcnt2
    )"""


_BPE_LEARN_ORACLE = f"""
    WITH RECURSIVE {_bpe_recursive_cte(20, per_source=False)}
    SELECT DISTINCT iter AS rank, bl AS "left", br AS "right",
           bl || br AS merged, bcnt AS pair_freq
    FROM t WHERE iter >= 1 ORDER BY rank
    """

_BPE_APPLY_ORACLE = f"""
    WITH RECURSIVE {_bpe_recursive_cte(20, per_source=True)},
    final AS (
      SELECT source, wrapped, freq FROM t
      WHERE iter = (SELECT MAX(iter) FROM t)
    ),
    tok AS (
      SELECT source,
             CAST(SUM(freq) AS BIGINT) AS n_words,
             CAST(SUM(freq * (len(wrapped)
                    - len(replace(wrapped, chr(2), '')))) AS BIGINT)
               AS n_tokens
      FROM final GROUP BY source
    ),
    docs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT d.source, d.n_docs, tok.n_words, tok.n_tokens,
           ROUND(CAST(tok.n_tokens AS DOUBLE) / tok.n_words, 9) AS fertility
    FROM docs d JOIN tok USING (source)
    """


def _bpe_merges_stage(sf_dir: str) -> str:
    """Corpus-keyed stage path for the learned merge table (the st16/s26
    sink discipline): learn ONCE per corpus, appliers read the artifact.
    Keyed by the sf_dir's absolute path (so two corpora in one process
    can never serve each other's tokenizer — the s23 cross-SF lesson)
    AND by a data fingerprint (so a regenerated corpus at the same path
    invalidates the stage — ADVICE r9)."""
    tag = os.path.abspath(sf_dir).strip(os.sep).replace(os.sep, "_")
    return stage_dir(f"bpe_merges_{tag}_{_corpus_fingerprint(sf_dir)}")


def _bpe_learned_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The (rank, left, right, merged, pair_freq) merge list for this
    corpus: read back from the stage when warm; learn and persist on a
    cold stage. At real scale nobody re-trains a tokenizer per encode
    job — the learn loop is a once-per-corpus pipeline stage whose
    output artifact every apply job loads (20 rows by contract)."""
    path = _bpe_merges_stage(sf_dir)
    if os.path.isdir(path):
        rows = spark.read.parquet(path).collect()
        if rows:
            return sorted(
                (
                    (r["rank"], r["left"], r["right"], r["merged"],
                     r["pair_freq"])
                    for r in rows
                ),
                key=lambda t: t[0],
            )
    merges = _bpe_learn_loop(spark, sf_dir)
    if merges:
        # repartition(1), NEVER coalesce(1): coalescing a 32-partition
        # local relation into one task pays ~5 s of scheduler locality
        # wait per write on this machine (the skyline r7 lesson,
        # re-measured here: 5.4 s vs 0.6 s for the identical 20 rows)
        spark.createDataFrame(merges, _BPE_MERGE_SCHEMA).repartition(
            1
        ).write.mode("overwrite").parquet(path)
    return merges


@query(
    "x140_bpe_learn",
    "X-text,X-tokenizer",
    oracle=_BPE_LEARN_ORACLE,  # GRADUATED r11: the greedy argmax chain
    # replays as a DuckDB recursive CTE over a multi-row vocab state
    # (see _bpe_recursive_cte) — aggregates+windows in the recursive
    # term pick each iteration's (freq DESC, left, right) winner and a
    # wrapped-symbol string replace applies it with exact
    # merge-with-skip semantics; python-twin parity tests unchanged
)
def x140_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (Sennrich et al. 2016): the first
    20 merge rules of a byte-pair-encoding tokenizer learned from the
    corpus — x33 counts the FIRST round's pairs; this runs the actual
    training loop. Classic BPE trains on the WORD-FREQUENCY table, not
    the corpus: one corpus-scale aggregate builds (word, freq), and
    every iteration after that touches only the |vocab|-row relation —
    the 100 TB corpus is scanned exactly once.

    Per iteration: adjacent-pair counts via slice+zip_with explode
    (freq-weighted, pure codegen), argmax by (freq DESC, left, right)
    via TakeOrdered(1) — a 1-row collect by contract, the only driver
    boundary — then the winning merge applied to the symbol arrays by
    an Arrow-batched pandas UDF (sequential merge-with-skip is not
    expressible in `transform`). The vocab relation is localCheckpointed
    each iteration so plan size stays O(1) across the fixed 20 steps —
    LAZILY: the next iteration's argmax action materializes it, so no
    separate job per step, and the 20th (never-consumed) checkpoint
    costs nothing.
    Ties break lexicographically — deterministic across engines/runs.

    The learned table is WRITTEN THROUGH to the corpus-keyed stage
    (20 rows) so apply jobs (x150) load the artifact instead of
    re-running the 20-job learn loop — train once, tokenize many.

    Returns (rank, left, right, merged, pair_freq)."""
    merges = _bpe_learn_loop(spark, sf_dir)
    df = spark.createDataFrame(merges, _BPE_MERGE_SCHEMA)
    if merges:
        # repartition(1), not coalesce(1) — see _bpe_learned_merges
        df.repartition(1).write.mode("overwrite").parquet(
            _bpe_merges_stage(sf_dir)
        )
    return df


def _bpe_learn_loop(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The distributed learn loop itself (see x140_bpe_learn)."""
    return _bpe_merge_iterations(
        _bpe_word_vocab(table(spark, sf_dir, "documents"))
    )


def _bpe_word_vocab(documents: DataFrame) -> DataFrame:
    """THE one corpus scan: (symbol-array, freq) word-frequency table.
    Everything after this touches only the |vocab|-row relation."""
    return (
        documents.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            # split-by-empty keeps a trailing "" under Java's limit=-1
            # semantics — filter it before appending the end-of-word
            # marker so no empty symbol enters the pair counts
            F.concat(
                F.filter(
                    F.split(F.col("w"), ""), lambda x: x != F.lit("")
                ),
                F.array(F.lit("</w>")),
            ).alias("syms"),
            "freq",
        )
        .localCheckpoint(eager=True)
    )


_BPE_CANDIDATES = 64  # top-N pairs collected per scan (bounded driver list)


def _bpe_select_batch(
    top: list, remaining: int, created: set[str]
) -> list:
    """EXACT batched merge selection (r9 verdict #3): from the sorted
    top-N pair counts, admit the longest PREFIX (no skips) that provably
    reproduces classic sequential BPE's next picks — the distributed-BPE
    batching optimization, with the admission rules that make it
    loss-LESS rather than approximate:

    1. Non-interference with every earlier pick: applying (a,b) can
       only DESTROY adjacencies of the forms (x,a) [a consumed when
       followed by b] and (b,y) [b consumed when preceded by a], kill
       (a,b) itself, and CREATE pairs containing the new token 'ab'.
       Any other pair's count is untouched — sharing a LEFT symbol
       ((a,b),(a,c)) or a RIGHT symbol ((x,b),(y,b)) is harmless. So a
       later pick (c,d) is admitted only if, for every earlier admitted
       (a_j,b_j): d != a_j and c != b_j — its count is then provably
       unchanged when its sequential turn comes.
    2. A pick whose merged string PRE-EXISTS as a vocab symbol (tracked
       exactly via `created`: initial symbols are single chars plus
       '</w>' — which seeds the set — and every other multi-char symbol
       was created by a recorded merge) TERMINATES the batch: applying
       (a,b) when 'ab' already exists INCREASES counts of pairs
       containing 'ab' by amounts our stats don't bound, which is only
       safe once no later in-batch pick can be overtaken — i.e. when
       the pick is last.
    3. Strict dominance: every BEYOND-prefix candidate of an interfering
       form ((x,a_j) or (b_j,y) for some admitted j) must count strictly
       below the prefix's minimum — pairs the batch CREATES are bounded
       by exactly those scan-time counts ((x,'ab') <= count(x,a);
       ('ab',y) <= count(b,y); ('ab','ab') <= count(b,a)), so nothing
       can rise to tie an admitted pick. Equal-count NON-interfering
       candidates are safe: the (freq desc, left, right) tie-break
       already orders them after the prefix.
    4. Truncation guard: if the candidate list was cut at N, the prefix
       minimum must strictly exceed the last seen count (unseen pairs
       can count at most that much).

    With batch=1 the rules are vacuous and this IS classic BPE; the
    existing exact python-twin parity tests therefore pin the batched
    path with no spec change. Returns the admitted rows."""

    def interferes(c: str, d: str, picks: list) -> bool:
        return any(d == a["left"] or c == a["right"] for a in picks)

    admitted: list = []
    for r in top:
        if admitted and interferes(r["left"], r["right"], admitted):
            break  # prefix ends at the first conflict — no skipping
        admitted.append(r)
        if r["left"] + r["right"] in created:
            break  # rule 2: a count-boosting pick must be last
        if len(admitted) >= remaining:
            break

    def _violates(k: int) -> bool:
        fmin = admitted[k - 1]["pair_freq"]
        if len(top) == _BPE_CANDIDATES and k < len(top):
            if fmin <= top[-1]["pair_freq"]:
                return True  # rule 4
        for a in admitted[:k]:
            # a same-symbol pick (a,a) creates ('aa','aa') adjacencies
            # bounded only by floor(f/2) — a form rules 1/3 cannot see
            # (count(b,a) IS the killed pair itself). Require the prefix
            # minimum to clear that bound strictly.
            if a["left"] == a["right"] and a["pair_freq"] // 2 >= fmin:
                return True
        for t in top[k:]:
            if t["pair_freq"] >= fmin and interferes(
                t["left"], t["right"], admitted[:k]
            ):
                return True  # rule 3
        return False

    k = len(admitted)
    while k > 1 and _violates(k):
        k -= 1
    return admitted[:k]


def _bpe_merge_iterations(
    vocab: DataFrame, n_merges: int = 20, stats: dict | None = None
) -> list[tuple]:
    """The scan loop over the vocab relation — cost bounded by |vocab|,
    NOT corpus size (the stress gate `scripts/stress_scale.py bpe`
    asserts this by 10x-ing the corpus under a fixed vocabulary and
    requiring flat iteration wall time). Each scan counts pairs ONCE
    and admits a provably-sequential-equal BATCH of merges
    (_bpe_select_batch), so a 30k-merge production vocabulary costs
    ~30k/B scans instead of 30k — the scheduler-overhead fix the r9
    verdict flagged as the last scale-suspect plan. Exact parity with
    classic BPE is pinned by the python-twin tests and the stress
    gate's batched-vs-analytic merge comparison."""
    merges: list[tuple] = []
    # '</w>' is the one multi-char INITIAL symbol — seed it so a merge
    # whose concatenation collides with the marker terminates its batch
    created: set[str] = {"</w>"}
    scans = 0
    while len(merges) < n_merges:
        scans += 1
        pair_counts = (
            vocab.select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.expr("slice(syms, 1, size(syms) - 1)"),
                        F.expr("slice(syms, 2, size(syms) - 1)"),
                        lambda a, b: F.struct(
                            a.alias("left"), b.alias("right")
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.left", "p.right")
            .agg(F.sum("freq").alias("pair_freq"))
        )
        top = pair_counts.orderBy(
            F.col("pair_freq").desc(), "left", "right"
        ).limit(_BPE_CANDIDATES).collect()  # bounded driver list
        if not top:
            break
        batch = _bpe_select_batch(top, n_merges - len(merges), created)
        for r in batch:
            merges.append(
                (
                    len(merges) + 1,
                    r["left"],
                    r["right"],
                    r["left"] + r["right"],
                    int(r["pair_freq"]),
                )
            )
            created.add(r["left"] + r["right"])
        vocab = vocab.select(
            _merge_batch_udf([(r["left"], r["right"]) for r in batch])(
                F.col("syms")
            ).alias("syms"),
            "freq",
        ).localCheckpoint(eager=False)

    if stats is not None:
        stats["scans"] = scans
        stats["merges"] = len(merges)
    return merges


@query(
    "x141_pca_top_component",
    "X-sim,X-qa",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM embeddings),
    mu AS (SELECT i, SUM(x) / nn.c AS m FROM e CROSS JOIN nn GROUP BY i, nn.c),
    cells AS (
      SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) / nn.c - ma.m * mb.m AS v
      FROM e a JOIN e b USING (vec_id) CROSS JOIN nn
      JOIN mu ma ON ma.i = a.i JOIN mu mb ON mb.i = b.i
      GROUP BY a.i, b.i, nn.c, ma.m, mb.m
    ),
    dims AS (SELECT i FROM mu),
    pi(iter, i, val) AS (
      -- CAST the seed: a bare 0.125 parses as DECIMAL(4,3) (the x128
      -- lesson) and pins the recursive column's type, silently rounding
      -- every iterate to 3 decimals
      SELECT 0, i, CAST(0.125 AS DOUBLE) FROM dims
      UNION ALL
      SELECT q.iter + 1, c.i, SUM(c.v * q.val)
      FROM pi q JOIN cells c ON c.j = q.i
      WHERE q.iter < 20
      GROUP BY q.iter, c.i
    ),
    w AS (SELECT i, val FROM pi WHERE iter = 20),
    nrm AS (SELECT sqrt(SUM(val * val)) AS n2 FROM w),
    cw AS (SELECT c.i, SUM(c.v * w.val) AS cv
           FROM cells c JOIN w ON w.i = c.j GROUP BY 1),
    ray AS (SELECT SUM(w.val * cw.cv)
                   / (SELECT SUM(val * val) FROM w) AS lam
            FROM w JOIN cw USING (i)),
    sgn AS (SELECT CASE WHEN (SELECT val FROM w
                              ORDER BY abs(val) DESC, i LIMIT 1) < 0
                        THEN -1.0 ELSE 1.0 END AS s)
    SELECT CAST(w.i AS INT) AS dim,
           ROUND(s * val / n2, 6) AS loading,
           ROUND(lam, 6) AS eigenvalue
    FROM w CROSS JOIN nrm CROSS JOIN ray CROSS JOIN sgn
    """,
)
def x141_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus — the anisotropy
    audit (Mu & Viswanath 2018: a dominant common direction degrades
    cosine retrieval; x87's centroid outliers and the whitening every
    embedding pipeline debates start from exactly this eigenvector).

    Scale shape — the pattern that matters at 100 TB: covariance NEVER
    materializes per-pair rows. One `mapInPandas` pass emits per-batch
    partial moments (n, Σx, XᵀX as a dim² array) — #batches rows of
    4096 doubles — and the 64x64 matrix assembles on the driver (the
    e09 |types|²-style bounded-collect contract); 20 UN-normalized
    power iterations run in numpy (start vector 1/8 exactly — no sqrt;
    un-normalized so the oracle's recursive CTE computes the IDENTICAL
    object: doubles hold λ^20 comfortably and the final normalize
    cancels the scale). Sign fixed by the max-|loading| component
    (ties -> lowest dim), Rayleigh eigenvalue; 6-dp round absorbs
    engine-vs-engine association drift in the moment sums. The pinned
    object is the DETERMINISTIC 20-step iterate C^20·v0 and its
    Rayleigh quotient, identical across engines — on a near-flat
    spectrum (this synthetic corpus) it only partially rotates toward
    the top eigenspace, which is fine: the contract is the fixed
    polynomial, like e09/x39, not a convergence test. The oracle
    rebuilds covariance by the quadratic per-pair join — fine at
    sf0.01, exactly what the Spark side must never do."""
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("embedding")

    def partial(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "ss": [(X.T @ X).ravel().tolist()],
                }
            )

    parts = emb.mapInPandas(
        partial, "n long, s array<double>, ss array<double>"
    ).collect()  # #batches rows of dim^2 doubles — bounded by contract
    n = sum(r["n"] for r in parts)
    s = np.sum([r["s"] for r in parts], axis=0)
    ss = np.sum([r["ss"] for r in parts], axis=0)
    d = s.shape[0]
    mu = s / n
    C = ss.reshape(d, d) / n - np.outer(mu, mu)
    v = np.full(d, 0.125)
    for _ in range(20):
        v = C @ v
    lam = float(v @ (C @ v) / (v @ v))
    v = v / np.linalg.norm(v)
    # deterministic sign: component with max |loading| positive,
    # ties broken on the lowest dim index
    k = min(range(d), key=lambda i: (-abs(v[i]), i))
    if v[k] < 0:
        v = -v
    rows = [
        (i + 1, float(round(v[i], 6)), float(round(lam, 6))) for i in range(d)
    ]
    return spark.createDataFrame(
        rows, "dim int, loading double, eigenvalue double"
    )


@query(
    "g17_manhattan_bins",
    "X-gwas,A2",
    oracle="""
    WITH
    ids AS (
      SELECT (ROW_NUMBER() OVER ()) - 1 AS id
      FROM lineitem, (VALUES (0), (1), (2), (3)) v(k)
    ),
    assoc AS (
      SELECT CAST(id % 22 + 1 AS INT) AS chr,
             CAST(1 + (id * 997) % 50000000 AS BIGINT) AS pos,
             id AS variant_id,
             CAST((id * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 AS p
      FROM ids
    ),
    b AS (SELECT chr, CAST(pos // 1000000 AS BIGINT) AS mb,
                 p, variant_id
          FROM assoc),
    agg AS (
      SELECT chr, mb, CAST(COUNT(*) AS BIGINT) AS n_variants,
             MIN(p) AS min_p
      FROM b GROUP BY 1, 2
    ),
    lead AS (
      SELECT b.chr, b.mb, MIN(b.variant_id) AS lead_variant
      FROM b JOIN agg ON b.chr = agg.chr AND b.mb = agg.mb
                     AND b.p = agg.min_p
      GROUP BY 1, 2
    )
    SELECT agg.chr, agg.mb, n_variants, lead_variant,
           ROUND(min_p, 9) AS min_p,
           CASE WHEN min_p > 0 THEN ROUND(-log10(min_p), 6) END AS peak_nlp
    FROM agg JOIN lead ON agg.chr = lead.chr AND agg.mb = lead.mb
    """,
)
def g17_manhattan_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manhattan-plot pre-aggregation: per (chr, 1 Mb bin) variant
    count, minimum p, its −log10 peak, and the lead variant — the
    downsampled relation every GWAS browser actually renders (plotting
    240k points raw is both slow and unreadable; gwasDB's Shiny plots
    draw from exactly this shape). One groupBy on (chr, bin) with a
    struct-min argmin — the lead variant rides the same aggregate as
    min_p (ties break on variant_id in both engines: struct ordering
    here, a MIN over the p = min_p slice in the oracle), so no second
    scan and no join back. Output is #chr x #bins rows — thousands,
    independent of variant count."""
    from gwasdb_spark.plans.relational import _synthetic_assoc

    assoc = _synthetic_assoc(spark, sf_dir)
    agg = (
        assoc.select(
            "chr",
            (F.col("pos") / 1_000_000).cast("long").alias("mb"),
            "p",
            "variant_id",
        )
        .groupBy("chr", "mb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.min(F.struct("p", "variant_id")).alias("top"),
        )
    )
    return agg.select(
        "chr",
        "mb",
        "n_variants",
        F.col("top.variant_id").alias("lead_variant"),
        F.round("top.p", 9).alias("min_p"),
        F.when(
            F.col("top.p") > 0, F.round(-F.log10("top.p"), 6)
        ).alias("peak_nlp"),
    )


@query(
    "e12_cohort_ltv",
    "X-events,X-analytics",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY 1
    ),
    cohorts AS (
      SELECT user_id, date_trunc('week', first_ts) AS cohort, first_ts
      FROM f
    ),
    sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
              FROM cohorts GROUP BY 1),
    rev AS (
      SELECT c.cohort,
             CAST(date_diff('day', c.first_ts, e.ts) // 7 AS BIGINT)
               AS week_no,
             CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events e JOIN cohorts c USING (user_id)
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort, week_no, cents,
             SUM(cents) OVER (PARTITION BY cohort ORDER BY week_no)
               AS cum_cents
      FROM rev
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
           week_no, n_users,
           CAST(cents AS BIGINT) AS week_revenue_cents,
           CAST(cum_cents AS BIGINT) AS cum_revenue_cents,
           ROUND(CAST(cum_cents AS DOUBLE) / 100.0 / n_users, 6)
             AS ltv_per_user
    FROM cum JOIN sizes USING (cohort)
    """,
)
def e12_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: users grouped by the week of their FIRST
    event, purchase revenue accumulated per weeks-since-signup — the
    retention economics x61's cohort counts stop short of (did week-3
    users keep spending, or just keep clicking?). All money rides as
    integer cents (exact long sums; ONE final division per output row),
    the cumulative window is PARTITIONED by cohort (bounded by the
    observation-window week count per partition), and the events scan
    feeds both the first-touch aggregate and the revenue aggregate —
    the per-user first_ts relation is user-grain, joined back on
    user_id."""
    e = table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohorts = f.select(
        "user_id", F.date_trunc("week", "first_ts").alias("cohort"), "first_ts"
    )
    sizes = cohorts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.to_date("ts"), F.to_date("first_ts")) / 7)
            .cast("long")
            .alias("week_no"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("week_no")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cohort", "week_no", "cents", F.sum("cents").over(w).alias("cum_cents")
    )
    return cum.join(sizes, "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "week_no",
        "n_users",
        F.col("cents").alias("week_revenue_cents"),
        F.col("cum_cents").cast("long").alias("cum_revenue_cents"),
        F.round(
            F.col("cum_cents").cast("double") / 100.0 / F.col("n_users"), 6
        ).alias("ltv_per_user"),
    )


@query(
    "x150_bpe_apply",
    "X-text,X-tokenizer",
    oracle=_BPE_APPLY_ORACLE,  # GRADUATED r11: same recursive-CTE learn
    # replay as x140 with the source column threaded through the state,
    # then per-source token counts off the final vocab — the whole
    # learn->apply round trip hash-checks in DuckDB
)
def x150_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the x140-learned BPE merges to the whole corpus and report
    per-source tokenizer fertility — the round trip that makes the
    learned tokenizer REAL: x133 measures a fixed regex pretokenizer,
    x140 learns the merges, this encodes every document with them and
    reports tokens-per-word before (chars+marker) vs after. Shape: the
    20-rule merge table is READ FROM THE CORPUS-KEYED STAGE that x140
    writes through (learned only when the stage is cold — train once,
    tokenize many; at real scale the apply job must never re-run the
    20-job learn loop), collects to the driver (20 rows by contract)
    and rides into ONE Arrow-batched pandas UDF as a closure — the
    corpus is scanned once, each word encoded by the standard
    rank-ordered merge loop; per-source aggregation shuffles 3 longs.
    Fertility = exact integer ratio, one final 9-dp division."""
    merges = [
        (left, right)
        for _rank, left, right, _m, _f in _bpe_learned_merges(spark, sf_dir)
    ]

    @F.pandas_udf("long")
    def n_bpe_tokens(texts: pd.Series) -> pd.Series:
        import re as _re

        cache: dict[str, int] = {}

        def encode_len(word: str) -> int:
            hit = cache.get(word)
            if hit is not None:
                return hit
            syms = list(word) + ["</w>"]
            for left, right in merges:
                out, i, n = [], 0, len(syms)
                while i < n:
                    if (
                        i + 1 < n
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
                if len(syms) == 1:
                    break
            cache[word] = len(syms)
            return len(syms)

        def doc_tokens(t: str) -> int:
            return sum(
                encode_len(w) for w in _re.split(r"\s+", t.strip()) if w
            )

        return texts.map(doc_tokens)

    d = table(spark, sf_dir, "documents")
    words = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != F.lit("")
        )
    )
    return (
        d.select(
            "source",
            words.cast("long").alias("n_words"),
            n_bpe_tokens(F.col("text")).alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words"), 9
            ).alias("fertility"),
        )
    )


@query(
    "x151_winnowing_fingerprints",
    "X-dedup,X-text",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> CAST(
                 CAST('0x' || substr(md5(
                   w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]), 1, 15)
                 AS UBIGINT) AS BIGINT)) AS gh
      FROM t
    ),
    fp AS (
      SELECT doc_id, len(gh) AS n_grams,
             list_distinct(
               list_transform(
                 range(1, greatest(len(gh) - 3, 0) + 1),
                 p -> list_aggregate(gh[p:p+3], 'min'))) AS fps
      FROM g
    ),
    ex AS (SELECT doc_id, unnest(fps) AS f FROM fp),
    dup AS (
      SELECT f FROM ex GROUP BY f HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    sh AS (
      SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM ex JOIN dup USING (f) GROUP BY 1
    )
    SELECT fp.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           COALESCE(sh.n_shared, 0) AS n_shared_fp
    FROM fp LEFT JOIN sh USING (doc_id)
    WHERE len(fps) > 0
    """,
)
def x151_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word 3-gram, slide a
    window of 4 consecutive gram hashes, keep each window's MINIMUM —
    the guarantee x08's single rolling hash cannot give: any shared run
    of >= 6 words between two documents shares at least one selected
    fingerprint, so local (partial-plagiarism) overlap is detectable
    from a sparse signature. Output per doc: gram count, distinct
    fingerprint count, and how many of its fingerprints appear in >= 2
    docs (the copy signal).

    Shape: grams, window minima, and dedup all happen INSIDE the row
    via array HOFs (pure codegen, zero shuffle); only the distinct
    8-byte fingerprints explode into the cross-doc frequency aggregate
    — signature-sized (~n_grams/4 per doc), not gram-sized. The
    value-set semantics (distinct window minima) sidestep the
    tie-position convention, so both engines select identical sets."""
    d = table(spark, sf_dir, "documents")
    h60 = lambda c: F.conv(  # noqa: E731
        F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10
    ).cast("long")
    # POSITIONAL gram sequence (duplicates preserved — _gram_array's
    # array_distinct would collapse repeats and break the windows);
    # tokens MATERIALIZE in a prior projection so the split doesn't
    # re-evaluate per element inside the gram lambda (the x130 trap)
    t0 = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("__toks")
    )
    tk = F.col("__toks")
    gh = F.when(
        F.size(tk) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - 3),
            lambda i: h60(
                F.concat_ws(
                    " ",
                    F.element_at(tk, i + 1),
                    F.element_at(tk, i + 2),
                    F.element_at(tk, i + 3),
                )
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # HARD materialization boundary: CollapseProject would inline the
    # gram-hash construction into EVERY window position's slice()
    # (deterministic projections collapse), re-hashing the whole gram
    # array per position — O(n_grams^2) md5 calls per doc, measured
    # 587 s at sf0.1 vs ~1 s with the boundary. The pinned relation is
    # (id, long[]) — gram-hash arrays, corpus-scan sized.
    t1 = t0.select(F.col("doc_id"), gh.alias("gh")).localCheckpoint(
        eager=False
    )
    # Window positions exist only when there are >= 4 grams (>= 6 tokens).
    # The sequence MUST be guarded like gh is: an unguarded
    # sequence(1, size-3, 1) evaluates sequence(1, 0, 1) on any shorter
    # doc and Spark aborts the whole query with 'Illegal sequence
    # boundaries' — one short doc anywhere in the corpus kills the scan,
    # while the oracle's range() just yields an empty list.
    base = t1.select(
        "doc_id",
        F.size("gh").cast("long").alias("n_grams"),
        F.when(
            F.size("gh") >= 4,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("gh") - 3, F.lit(1)),
                    lambda p: F.array_min(F.slice("gh", p, 4)),
                )
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("fps"),
    ).filter(F.size("fps") > 0)
    # feeds the cross-doc frequency aggregate AND the per-doc output
    base = base.localCheckpoint(eager=False)
    ex = base.select("doc_id", F.explode("fps").alias("f"))
    dup = (
        ex.groupBy("f")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("f")
    )
    sh = (
        ex.join(dup, "f")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return base.join(sh, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.size("fps").cast("long").alias("n_fingerprints"),
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias(
            "n_shared_fp"
        ),
    )


@query(
    "e13_dau_stickiness",
    "X-events,X-analytics",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    spine AS (SELECT DISTINCT day FROM ud),
    cover AS (
      SELECT ud.user_id,
             ud.day + CAST(k AS INT) AS cover_day, k
      FROM ud CROSS JOIN range(0, 28) r(k)
    ),
    dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    wau AS (
      SELECT cover_day AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM cover WHERE k < 7 GROUP BY 1
    ),
    mau AS (
      SELECT cover_day AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM cover GROUP BY 1
    )
    SELECT strftime(spine.day, '%Y-%m-%d') AS day, dau.dau, wau.wau, mau.mau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 9) AS dau_wau,
           ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 9) AS dau_mau
    FROM spine
    JOIN dau USING (day) JOIN wau USING (day) JOIN mau USING (day)
    """,
)
def e13_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU and the stickiness ratios (DAU/WAU, DAU/MAU) —
    the engagement headline every product dashboard opens with.
    Trailing-window DISTINCT does not decompose into a sliding
    aggregate, so the scale-correct shape is the COVER-SET join: the
    (user, day) distinct relation (far smaller than events) explodes
    each row onto the <= 28 future days it covers — a bounded equi-join
    fan-out, never a range join and never a per-day rescan — and each
    cover day counts distinct users. Trailing windows at the series
    START are partial by construction, identically in both engines.
    Shuffles carry (date, long) pairs; ratios are one exact division
    per output row."""
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    # feeds dau, the cover explode, and the spine — pin the events scan
    ud = ud.localCheckpoint(eager=False)
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    cover = ud.select(
        "user_id",
        "day",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("k"),
    ).select("user_id", F.expr("date_add(day, k)").alias("cover_day"), "k")
    wau = (
        cover.filter(F.col("k") < 7)
        .groupBy(F.col("cover_day").alias("day"))
        .agg(F.count_distinct("user_id").cast("long").alias("wau"))
    )
    mau = cover.groupBy(F.col("cover_day").alias("day")).agg(
        F.count_distinct("user_id").cast("long").alias("mau")
    )
    spine = ud.select("day").distinct()
    return (
        spine.join(dau, "day")
        .join(wau, "day")
        .join(mau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 9).alias(
                "dau_wau"
            ),
            F.round(F.col("dau").cast("double") / F.col("mau"), 9).alias(
                "dau_mau"
            ),
        )
    )


@query(
    "w12_yoy_revenue",
    "X-window,X-analytics",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    )
    SELECT strftime(month, '%Y-%m') AS month,
           cents AS revenue_cents,
           LAG(cents, 12) OVER (ORDER BY month) AS prev_year_cents,
           ROUND(
             (cents - LAG(cents, 12) OVER (ORDER BY month))
             / CAST(LAG(cents, 12) OVER (ORDER BY month) AS DOUBLE), 9)
             AS yoy_change
    FROM m
    """,
)
def w12_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue change — the comparison every
    finance review opens with, exact to the cent: monthly totals as
    integer cents, the 12-month lookback via ONE lag window over the
    MONTH relation (calendar-bounded, the x131/w11 allowlist class —
    never a self-join on orders), and a single 9-dp division per row.
    First-year months emit NULL change, identically in both engines."""
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("month")
    prev = F.lag("cents", 12).over(w)
    return m.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        F.col("cents").alias("revenue_cents"),
        prev.alias("prev_year_cents"),
        F.round(
            (F.col("cents") - prev) / prev.cast("double"), 9
        ).alias("yoy_change"),
    )


@query(
    "st17_stream_dau",
    "X-stream,X-analytics",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
    FROM events GROUP BY 1
    """,
)
def st17_stream_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE streaming DAU — e13's headline metric computed as events
    arrive instead of as a nightly batch: the file-source stream
    deduplicates on (user_id, day) with stateful dropDuplicates (the
    streaming COUNT(DISTINCT) surrogate — distinct aggregates are
    unsupported in streaming, dedup-then-count is the standard shape),
    then counts per day. Complete-mode AvailableNow replay must equal
    the batch oracle exactly. Production: add a watermark so dedup
    state evicts at the lateness horizon and run append mode — the
    harness replay keeps complete mode so every day emits without a
    flush sentinel."""
    from gwasdb_spark.streaming.events import (
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    dau = (
        stream.select("user_id", F.to_date("ts").alias("day"))
        .dropDuplicates(["user_id", "day"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("dau"))
    )
    out = run_available_now(dau, "complete")
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "dau"
    )


@query(
    "x152_sliced_auc",
    "X-quality,X-eval",
    oracle="""
    WITH feats AS (
      SELECT doc_id, lang, source,
             CAST(length(text) AS DOUBLE) AS n_chars_d,
             CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS n_tok,
             CAST(len(regexp_extract_all(lower(text),
                  '\\b(the|and|of|to|a|in|is|that)\\b')) AS DOUBLE) AS n_sw,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
               AS DOUBLE) AS n_punct
      FROM documents
    ),
    scored AS (
      SELECT source,
             ROUND(1.0 / (1.0 + EXP(-(
               -2.4 + 0.35 * LN(1.0 + n_chars_d)
                    + 6.0 * (CASE WHEN n_tok > 0 THEN n_sw / n_tok
                                  ELSE 0.0 END)
                    - 8.0 * (CASE WHEN n_chars_d > 0 THEN n_punct / n_chars_d
                                  ELSE 0.0 END)))), 9) AS s9,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM feats
    ),
    g AS (
      SELECT source, s9, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS npos
      FROM scored GROUP BY 1, 2
    ),
    c AS (
      SELECT source, s9, n, npos,
             COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY s9
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM g
    ),
    agg AS (
      SELECT source, SUM(n) AS nn, SUM(npos) AS p,
             SUM(npos * (2 * cum_before + n + 1)) AS r2
      FROM c GROUP BY 1
    )
    SELECT source, CAST(p AS BIGINT) AS n_pos,
           CAST(nn - p AS BIGINT) AS n_neg,
           CASE WHEN p > 0 AND nn - p > 0 THEN
             ROUND(CAST(r2 - p * (p + 1) AS DOUBLE)
                   / CAST(2 * p * (nn - p) AS DOUBLE), 9)
           END AS auc
    FROM agg
    """,
)
def x152_sliced_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SLICE Mann-Whitney AUC of the quality classifier — the
    fairness/regression report x119's single global number hides: a
    gate that ranks well overall can be inverted on one source, and
    slice-wise AUC is how that is caught. Same tie-corrected integer
    rank-sum algebra as x119, but ranks never materialize per document:
    documents aggregate to (source, 9-dp score) groups first, the
    cumulative count runs over THAT relation (per-source partitioned
    window, rows bounded by distinct score values — far smaller than
    docs), and each group contributes npos·(2·cum_before + n + 1) =
    2·R_pos exactly in BIGINT. One final division per slice; slices
    with a missing class emit NULL, not a fake 0/1."""
    from gwasdb_spark.functions.text import quality_classifier_prob

    d = table(spark, sf_dir, "documents")
    g = (
        d.select(
            "source",
            F.round(quality_classifier_prob(F.col("text")), 9).alias("s9"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
        )
        .groupBy("source", "s9")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("npos"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("s9")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = g.select(
        "source",
        "n",
        "npos",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("cum_before"),
    )
    agg = c.groupBy("source").agg(
        F.sum("n").alias("nn"),
        F.sum("npos").alias("p"),
        F.sum(
            F.col("npos") * (2 * F.col("cum_before") + F.col("n") + 1)
        ).alias("r2"),
    )
    return agg.select(
        "source",
        F.col("p").cast("long").alias("n_pos"),
        (F.col("nn") - F.col("p")).cast("long").alias("n_neg"),
        F.when(
            (F.col("p") > 0) & (F.col("nn") - F.col("p") > 0),
            F.round(
                (F.col("r2") - F.col("p") * (F.col("p") + 1)).cast("double")
                / (2 * F.col("p") * (F.col("nn") - F.col("p"))).cast(
                    "double"
                ),
                9,
            ),
        ).alias("auc"),
    )


@query(
    "g18_proxy_variant",
    "X-gwas,A2",
    oracle="""
    WITH
    ids AS (
      SELECT (ROW_NUMBER() OVER ()) - 1 AS id
      FROM lineitem, (VALUES (0), (1), (2), (3)) v(k)
    ),
    assoc AS (
      SELECT CAST(id % 22 + 1 AS INT) AS chr,
             CAST(1 + (id * 997) % 50000000 AS BIGINT) AS pos,
             id AS variant_id,
             CAST((id * 2654435761) % 1000003 AS DOUBLE) / 1000003.0 AS p
      FROM ids
    ),
    q AS (SELECT * FROM assoc WHERE p >= 0.0001 AND p < 0.001),
    s AS (SELECT * FROM assoc WHERE p < 0.0001),
    cand AS (
      SELECT q.variant_id, q.chr, q.pos,
             s.variant_id AS sv, abs(q.pos - s.pos) AS dist
      FROM q JOIN s ON q.chr = s.chr
                   AND abs(q.pos - s.pos) <= 500000
                   AND q.variant_id <> s.variant_id
    ),
    mind AS (SELECT variant_id, MIN(dist) AS dist FROM cand GROUP BY 1),
    pick AS (
      SELECT cand.variant_id, cand.dist, MIN(cand.sv) AS proxy_variant
      FROM cand JOIN mind ON cand.variant_id = mind.variant_id
                         AND cand.dist = mind.dist
      GROUP BY 1, 2
    )
    SELECT q.variant_id, q.chr, q.pos,
           pick.proxy_variant, pick.dist AS proxy_distance
    FROM q LEFT JOIN pick USING (variant_id)
    """,
)
def g18_proxy_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proxy-variant lookup: for every suggestive association
    (1e-4 <= p < 1e-3) find the NEAREST genome-wide-significant variant
    (p < 1e-4) within ±500 kb on the same chromosome — the "is this
    sub-threshold hit shadowing a known signal?" triage every GWAS
    follow-up runs (distance as the poor man's LD proxy; gwasDB's
    region views answer exactly this question interactively).

    Scale shape: NEVER a per-chromosome cross join — queries and
    significant variants bucket into 500 kb bins and each query probes
    only bins {b-1, b, b+1} (a 3x bounded equi-join fan-out, the same
    binned-nearest discipline as g08), the +-500 kb filter applies
    post-join, and the argmin rides ONE struct-min aggregate (distance,
    then variant_id tiebreak — identical to the oracle's two-step MIN).
    Queries with no in-range proxy survive the left join with NULLs."""
    from gwasdb_spark.plans.relational import _synthetic_assoc

    assoc = _synthetic_assoc(spark, sf_dir)
    # feeds both the query and significant slices — pin the id scan
    assoc = assoc.localCheckpoint(eager=False)
    q = assoc.filter((F.col("p") >= 0.0001) & (F.col("p") < 0.001))
    s = assoc.filter(F.col("p") < 0.0001).select(
        F.col("chr").alias("s_chr"),
        F.col("pos").alias("s_pos"),
        F.col("variant_id").alias("sv"),
    )
    binsz = 500_000
    qb = q.select(
        "variant_id",
        "chr",
        "pos",
        F.explode(
            F.array(
                (F.col("pos") / binsz).cast("long") - 1,
                (F.col("pos") / binsz).cast("long"),
                (F.col("pos") / binsz).cast("long") + 1,
            )
        ).alias("b"),
    )
    sb = s.select(
        "s_chr", "s_pos", "sv", (F.col("s_pos") / binsz).cast("long").alias("b")
    )
    cand = (
        qb.join(
            sb,
            (F.col("chr") == F.col("s_chr")) & (qb["b"] == sb["b"]),
        )
        .filter(
            (F.abs(F.col("pos") - F.col("s_pos")) <= binsz)
            & (F.col("variant_id") != F.col("sv"))
        )
        .select(
            "variant_id",
            F.abs(F.col("pos") - F.col("s_pos")).alias("dist"),
            "sv",
        )
        # a significant variant in bin b is seen by query probes b-1/b/b+1
        # exactly once each — candidates are distinct by construction
        .groupBy("variant_id")
        .agg(F.min(F.struct("dist", "sv")).alias("top"))
    )
    return q.join(cand, "variant_id", "left").select(
        "variant_id",
        "chr",
        "pos",
        F.col("top.sv").alias("proxy_variant"),
        F.col("top.dist").alias("proxy_distance"),
    )


@query(
    "mm09_chunk_manifest",
    "X-multimodal",
    oracle="""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents
    ),
    -- unnest over the LIST range bounded by the payload's own chunk
    -- count (the table-function range can't take lateral column
    -- params): no 1024 cap (a >4 MiB payload gets every chunk), and
    -- an empty payload gets range(0, 0) = [] = no rows
    ex AS (
      SELECT doc_id, hx,
             unnest(range(0, (length(hx) + 8191) // 8192)) AS k
      FROM b
    )
    SELECT doc_id,
           CAST(k AS INT) AS chunk_idx,
           CAST(k * 4096 AS BIGINT) AS byte_offset,
           CAST(length(substr(hx, CAST(k * 8192 + 1 AS INT), 8192)) // 2
             AS BIGINT) AS n_bytes,
           md5(substr(hx, CAST(k * 8192 + 1 AS INT), 8192)) AS digest
    FROM ex
    """,
)
def mm09_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size chunk manifest for binary media payloads — the
    storage/upload unit every blob store (and every multimodal training
    loader doing range reads) keys on: each payload splits into 4 KiB
    slices, each manifest row carrying (chunk index, byte offset,
    length, md5 digest). Pure codegen: the chunk positions are an
    in-row sequence, the slice is a binary substring, and the digest
    hashes the slice — zero shuffle, zero UDF; the manifest is the
    scan's natural output. Chunk-grain digests are what make byte-range
    dedup (mm08), resumable transfer, and per-chunk integrity checks
    possible without ever reading whole blobs."""
    from gwasdb_spark.multimodal.binary import to_binary_table

    bt = to_binary_table(table(spark, sf_dir, "documents"))
    chunk = 4096
    # Digests hash the lowercase HEX of the byte slice, not the raw
    # bytes: DuckDB's md5 is VARCHAR-only, and a hex-of-slice digest is
    # the same integrity identifier either way. The hex string
    # materializes once per payload BEFORE the chunk explode; at real
    # blob sizes (MBs) swap this stage for the Arrow mapInPandas kernel
    # (multimodal/binary.py) — the manifest schema stays identical.
    hx = bt.select(
        "doc_id", F.lower(F.hex("payload")).alias("hx")
    )
    # Guarded like x151's window sequence: a LENGTH-0 payload makes
    # sequence(0, floor(-1/8192)) = sequence(0, -1), which Spark expands
    # with an IMPLICIT step of -1 into [0, -1] — two phantom chunks
    # (one at byte_offset -4096) where the oracle emits none.
    pos = F.when(
        F.length("hx") > 0,
        F.sequence(
            F.lit(0),
            F.floor((F.length("hx") - 1) / (2 * chunk)).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    ex = hx.select("doc_id", "hx", F.explode(pos).alias("k"))
    sl = F.expr(
        f"substring(hx, CAST(k * {2 * chunk} + 1 AS INT), {2 * chunk})"
    )
    return ex.select(
        "doc_id",
        F.col("k").cast("int").alias("chunk_idx"),
        (F.col("k") * chunk).cast("long").alias("byte_offset"),
        (F.length(sl) / 2).cast("long").alias("n_bytes"),
        F.md5(sl).alias("digest"),
    )


@query(
    "x155_temporal_holdout",
    "X-curation,X-eval",
    oracle="""
    WITH r AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    s AS (
      SELECT event_type,
             CASE WHEN rn = 1 THEN 'val' ELSE 'train' END AS split
      FROM r
    )
    SELECT event_type, split, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY 1, 2
    """,
)
def x155_temporal_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe TEMPORAL holdout split — x99 hashes by SOURCE to
    stop near-dup leakage across splits; this is the orthogonal split a
    sequence model needs: each user's LAST event (by event time,
    event_id tiebreak) is the validation target and everything before
    it is training history, so the model never trains on anything that
    happened after a user's own eval point. One per-user ordered window
    (key-partitioned, never global), then a count aggregate — shuffles
    carry (type, split, long). Reported per event type so class balance
    of the heldout slice is visible next to the train mass."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.select(
            "event_type",
            F.when(F.row_number().over(w) == 1, F.lit("val"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
        .groupBy("event_type", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


@query(
    "e14_new_vs_returning",
    "X-events,X-analytics",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    fd AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1)
    SELECT strftime(ud.day, '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN ud.day = fd.first_day THEN 1 ELSE 0 END)
             AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN ud.day > fd.first_day THEN 1 ELSE 0 END)
             AS BIGINT) AS n_returning,
           ROUND(SUM(CASE WHEN ud.day = fd.first_day THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 9) AS new_ratio
    FROM ud JOIN fd USING (user_id)
    GROUP BY ud.day
    """,
)
def e14_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into NEW (first-ever active day) vs
    RETURNING — the acquisition-vs-retention decomposition every growth
    dashboard pairs with e13's DAU. Shape: TWO exchanges total — one
    per-user aggregate collects each user's distinct day SET (map-side
    partial aggregation dedups (user, day) before anything shuffles,
    so the exchange carries deduped sets, not events), the first day
    is array_min over that in-row set (no second per-user pass, no
    join back), and the day-grain counts re-aggregate the exploded
    sets. Day sets are calendar-bounded per user by construction."""
    e = table(spark, sf_dir, "events")
    per_user = (
        e.select("user_id", F.to_date("ts").alias("day"))
        .groupBy("user_id")
        .agg(F.collect_set("day").alias("days"))
    )
    flagged = per_user.select(
        F.explode("days").alias("day"),
        F.array_min("days").alias("first_day"),
    ).select(
        "day",
        (F.col("day") == F.col("first_day")).cast("long").alias("is_new"),
    )
    return (
        flagged.groupBy("day")
        .agg(
            F.sum("is_new").cast("long").alias("n_new"),
            F.sum(1 - F.col("is_new")).cast("long").alias("n_returning"),
            F.round(
                F.sum("is_new").cast("double") / F.count(F.lit(1)), 9
            ).alias("new_ratio"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_new",
            "n_returning",
            "new_ratio",
        )
    )


@query(
    "e15_variant_json_props",
    "X-events,X-text",
    oracle="""
    SELECT event_type,
           CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS n_with_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS max_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def e15_variant_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT path through the e01 semantics: props parse ONCE to
    Spark 4's binary Variant type (`parse_json`) and fields extract with
    `try_variant_get` — at 100 TB this is the shape that matters,
    because Variant columns store shredded binary (parse cost paid at
    ingest, not per query, and field access prunes like a column) where
    e01's get_json_object re-parses the JSON string in every expression
    that touches it. Same aggregate contract as e01 so the two paths
    are directly comparable in the bench; try_variant_get returns NULL
    on missing/mistyped fields exactly like the oracle's CAST of a
    missing extract."""
    return variant_k_aggregate(table(spark, sf_dir, "events"))


def variant_k_aggregate(events: DataFrame) -> DataFrame:
    """e15's core: props → Variant once, $.k extracted as bigint, agg by
    event_type. try_parse_json, not parse_json: a malformed props value
    must become a NULL variant (matching the oracle's
    json_extract_string, which yields NULL on bad JSON) — parse_json
    would crash the whole job on one bad row where the oracle degrades
    gracefully (ADVICE r9; regression-fixtured in
    tests/test_advice_r9_regressions.py)."""
    v = events.select(
        "event_type", F.try_parse_json(F.col("props")).alias("v")
    )
    k = F.try_variant_get(F.col("v"), "$.k", "bigint")
    return (
        v.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").cast("long").alias("n_with_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.sum("k").cast("long").alias("sum_k"),
        )
    )


@query(
    "x154_rag_chunking",
    "X-text,X-serve",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS w
      FROM documents
    ),
    n AS (SELECT doc_id, w, len(w) AS nw FROM t WHERE len(w) > 0),
    c AS (
      SELECT doc_id, w, nw,
             unnest(range(0, CASE WHEN nw <= 50 THEN 1
                                  ELSE (nw - 11) // 40 + 1 END)) AS k
      FROM n
    )
    SELECT doc_id, CAST(k AS INT) AS chunk_idx,
           CAST(k * 40 + 1 AS BIGINT) AS start_word,
           CAST(len(w[CAST(k*40+1 AS INT) : CAST(k*40+50 AS INT)])
             AS BIGINT) AS n_chunk_words,
           md5(array_to_string(
             w[CAST(k*40+1 AS INT) : CAST(k*40+50 AS INT)], ' ')) AS digest
    FROM c
    """,
)
def x154_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping retrieval chunks — the unit every RAG/embedding
    pipeline actually indexes: 50-word windows at stride 40 (10-word
    overlap so no answer span is ever split across a chunk boundary
    without a copy that contains it whole). The chunk COUNT is closed
    form — 1 for short docs, else (n_words - 11) // 40 + 1, integer
    arithmetic identical in both engines — so chunking is an in-row
    sequence + slice + hash: zero shuffle, zero UDF, and the output
    rows carry (offsets, lengths, digest), not the text, so a 100 TB
    corpus emits a manifest, not a second corpus. The tokens
    materialize behind a localCheckpoint boundary before the per-chunk
    slices (the x151 CollapseProject lesson: k consumers of an in-row
    deterministic array re-evaluate its construction k times without
    one)."""
    d = table(spark, sf_dir, "documents")
    size, stride = 50, 40
    t0 = d.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != F.lit("")
        ).alias("w"),
    ).filter(F.size("w") > 0)
    t0 = t0.localCheckpoint(eager=False)
    n_chunks = F.when(F.size("w") <= size, F.lit(1)).otherwise(
        ((F.size("w") - 11) / stride).cast("long") + 1
    )
    ex = t0.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("k"),
    )
    sl = F.slice(F.col("w"), (F.col("k") * stride + 1).cast("int"), size)
    return ex.select(
        "doc_id",
        F.col("k").cast("int").alias("chunk_idx"),
        (F.col("k") * stride + 1).cast("long").alias("start_word"),
        F.size(sl).cast("long").alias("n_chunk_words"),
        F.md5(F.concat_ws(" ", sl).cast("binary")).alias("digest"),
    )


# Shared by st18 (streamed upsert → flat IVF serve) and st22 (streamed
# upsert of a GRAPH-CARRYING index → flat-regime graph serve): both
# compute the exact top-k over the same logically-updated corpus, so
# one SQL replay adjudicates both — st22 additionally proves the
# engine-enforced sidecar refresh (a missed refresh leaves the updated
# vectors graph-rowless → unreachable → hash fail).
_ST18_ANN_SQL = """
    WITH v AS (
      SELECT vec_id,
             CASE WHEN vec_id % 10 = 0 THEN list_reverse(embedding)
                  ELSE embedding END AS e
      FROM embeddings
    ),
    cells AS (
      SELECT vec_id, e,
             CAST(list_position(e, list_max(e)) AS INT) AS cell
      FROM v
    ),
    q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 5),
    dims AS (SELECT CAST(d AS INT) AS cell FROM range(1, 65) t(d)),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, dims.cell,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY CAST(qv[dims.cell] AS DOUBLE) DESC, dims.cell)
                 AS dim_rank
        FROM q CROSS JOIN dims
      ) WHERE dim_rank <= 4
    ),
    cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id, q.qv, c.e AS cv
      FROM probes p
      JOIN cells c ON c.cell = p.cell
      JOIN q ON q.query_id = p.query_id
      WHERE c.vec_id <> p.query_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             list_sum(list_transform(range(1, 65),
               i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))
               AS cos_raw
      FROM cand
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           ROUND(cos_raw, 6) AS cosine
    FROM (
      SELECT query_id, neighbor_id, cos_raw,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
"""


@query(
    "st18_stream_ann_ingest",
    "X-streaming,X-sim",
    oracle=_ST18_ANN_SQL,
)
def st18_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE maintenance of the persisted ANN index — x153's upsert path
    driven by a STREAM: vector updates (every 10th vector re-embedded,
    its array reversed) arrive as a parquet file stream one file per
    micro-batch, and each batch is absorbed by
    `operators/ann_index.upsert_cell_index` inside foreachBatch — the
    touched-cells-only rewrite, so ingest cost tracks batch size, never
    index size. Replay-safe the way st16's ledger is: the upsert is
    idempotent per batch (replacing a row with the same value is a
    no-op) and arrival batches are disjoint by vec_id, so at-least-once
    redelivery in any order converges to the same index. After the
    AvailableNow replay drains, the query serves x136's probe path
    against the LIVE index and the oracle recomputes the same top-k
    over the logically-updated corpus — streaming ingest ≡ batch
    rebuild, hash-checked."""
    import hashlib as _hl

    from gwasdb_spark.functions.vectors import cosine
    from gwasdb_spark.operators.ann_index import (
        build_cell_index,
        read_cell_index,
        upsert_cell_index,
    )

    import numpy as np

    e = table(spark, sf_dir, "embeddings")
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:12]
    base = stage_dir(f"stream_ann_{tag}")
    src = os.path.join(base, "arrivals")
    idx = os.path.join(base, "index")

    if not os.path.isdir(os.path.join(idx, "index")):
        build_cell_index(e.select("vec_id", "embedding"), idx)
    if not os.path.isdir(src):
        (
            e.filter(F.col("vec_id") % 10 == 0)
            .select("vec_id", F.reverse(F.col("embedding")).alias("embedding"))
            .repartition(4)
            .write.mode("overwrite")
            .parquet(src)
        )

    def _ingest(batch_df, batch_id):
        upsert_cell_index(
            batch_df.sparkSession, idx, batch_df.select("vec_id", "embedding")
        )

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    index = read_cell_index(spark, idx)
    qrows = (
        index.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    )
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        top = np.lexsort((np.arange(qv.size), -qv))[:4]
        for c in top:
            probe_rows.append(
                (int(r["vec_id"]), [float(x) for x in r["embedding"]], int(c) + 1)
            )
    probes = spark.createDataFrame(
        probe_rows, "query_id long, qv array<float>, cell int"
    )
    probe_cells = sorted({p[2] for p in probe_rows})
    cand = (
        index.filter(F.col("cell").isin(probe_cells))
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("embedding")).alias("cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


@query(
    "st22_stream_graph_ann",
    "X-streaming,X-sim,X-serve",
    oracle=_ST18_ANN_SQL,
)
def st22_stream_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into a GRAPH-CARRYING ANN index, then graph
    serve — the composed row the r12 verdict asked for (#2): st18's
    foreachBatch upsert stream runs against an index that carries the
    per-cell neighbor-graph sidecar, and the ingest path makes NO
    manual refresh_graph_sidecar calls. Coherence is engine-enforced
    since r13: `upsert_cell_index` detects `<base>/graphs` and
    re-derives the touched cells' graph partitions itself with the
    sidecar's recorded R (operators/ann_index._rewrite_cells) —
    the invariant x176 proved breaks results when missed no longer
    lives in the caller. After the AvailableNow replay drains, the
    query serves the flat-regime beam (`graph_probe_persisted`,
    ef=|cell|: exact within each connected per-cell graph) and must
    hash-match the exact SQL replay over the logically-updated corpus.
    Sharp because the sidecar defines REACHABILITY: had any micro-batch
    skipped the refresh, its re-embedded vectors would have no graph
    rows → be unreachable → vanish from the top-k → break the hash.
    The per-batch `graphs_refreshed` flag is asserted inside the sink
    as well, so a silent regression fails loudly, not just hash-late."""
    import numpy as np

    from gwasdb_spark.operators.ann_graph import (
        build_graph_sidecar,
        graph_probe_persisted,
    )
    from gwasdb_spark.operators.ann_index import (
        build_cell_index,
        read_cell_index,
        upsert_cell_index,
    )

    e = table(spark, sf_dir, "embeddings")
    import hashlib as _hl

    tag = (
        _hl.md5(sf_dir.encode()).hexdigest()[:12]
        + "_" + _corpus_fingerprint(sf_dir)
    )
    base = stage_dir(f"stream_graph_ann_{tag}")
    src = os.path.join(base, "arrivals")
    idx = os.path.join(base, "index")

    if not os.path.isdir(os.path.join(idx, "index")):
        build_cell_index(e.select("vec_id", "embedding"), idx)
    if not os.path.isdir(os.path.join(idx, "graphs")):
        build_graph_sidecar(spark, idx, R=6)
    if not os.path.isdir(src):
        (
            e.filter(F.col("vec_id") % 10 == 0)
            .select("vec_id", F.reverse(F.col("embedding")).alias("embedding"))
            .repartition(4)
            .write.mode("overwrite")
            .parquet(src)
        )

    def _ingest(batch_df, batch_id):
        info = upsert_cell_index(
            batch_df.sparkSession, idx, batch_df.select("vec_id", "embedding")
        )
        if not info["graphs_refreshed"]:
            raise RuntimeError(
                "graph sidecar present but upsert did not refresh it"
            )

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    index = read_cell_index(spark, idx)
    qrows = (
        index.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
        .collect()
    )
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        top = np.lexsort((np.arange(qv.size), -qv))[:4]
        for c in top:
            probe_rows.append(
                (int(r["vec_id"]),
                 [float(x) for x in r["embedding"]], int(c) + 1)
            )
    probes = spark.createDataFrame(
        probe_rows, "query_id long, q_vec array<float>, cell int"
    )
    out = graph_probe_persisted(spark, idx, probes, k=10, ef=0)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine")
    )


@query(
    "g19_credible_sets",
    "X-gwas,A2",
    oracle="""
    WITH ids AS (
      SELECT (ROW_NUMBER() OVER ()) - 1 AS id
      FROM lineitem, (VALUES (0), (1), (2), (3)) v(k)
    ),
    assoc AS (
      SELECT CAST(id % 22 + 1 AS INT) AS chr,
             CAST(1 + (id * 997) % 50000000 AS BIGINT) AS pos,
             id AS variant_id,
             -ln(CAST((id * 2654435761) % 1000003 + 1 AS DOUBLE)
                 / 1000004.0) AS z,
             0.05 + CAST((id * 7919) % 1000 AS DOUBLE) / 10000.0 AS se
      FROM ids
    ),
    loci AS (
      SELECT chr, CAST(pos // 1000000 AS INT) AS bin, variant_id, z, se
      FROM assoc
    ),
    lead AS (
      SELECT chr, bin FROM loci GROUP BY 1, 2 HAVING MAX(z) >= 10.0
    ),
    cand AS (
      SELECT loci.chr, loci.bin, variant_id, z, se,
             round(0.5 * ln(se * se / (se * se + 0.04))
               + z * z / 2 * (0.04 / (se * se + 0.04)), 6) AS labf
      FROM loci JOIN lead USING (chr, bin)
      WHERE z >= 3.0
    ),
    rel AS (
      SELECT chr, bin, variant_id, z,
             CAST(round(exp(labf - MAX(labf) OVER (PARTITION BY chr, bin))
                        * 1e9) AS BIGINT) AS rel_i
      FROM cand
    ),
    ranked AS (
      SELECT chr, bin, variant_id, z, rel_i,
             SUM(rel_i) OVER (PARTITION BY chr, bin) AS total_i,
             SUM(rel_i) OVER (PARTITION BY chr, bin
                              ORDER BY rel_i DESC, variant_id) AS cum_i,
             ROW_NUMBER() OVER (PARTITION BY chr, bin
                                ORDER BY rel_i DESC, variant_id) AS cs_rank
      FROM rel
    )
    SELECT chr, bin, variant_id, ROUND(z, 9) AS z,
           ROUND(CAST(rel_i AS DOUBLE) / total_i, 9) AS pp,
           CAST(cs_rank AS BIGINT) AS cs_rank,
           (cum_i - rel_i) * 100 < 95 * total_i AS in_cs95
    FROM ranked
    """,
)
def g19_credible_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian fine-mapping credible sets (Wakefield 2009 approximate
    Bayes factors — the post-GWAS step the reference's clump views feed
    into): within each 1 Mb locus holding a genome-wide-significant
    lead (max z >= 10 on the synthetic marker set g18 also uses), every
    suggestive variant (z >= 3) gets log-ABF = 0.5*ln(se²/(se²+W)) +
    z²r/2 with shrinkage r = W/(se²+W), posterior inclusion
    probabilities normalize WITHIN the locus, and the 95% credible set
    is the smallest PP-descending prefix reaching 0.95. Numeric
    discipline: log-ABFs round to 6 dp first (so JVM-vs-libm last-ulp
    ln() drift cannot reach the quantizer), then convert to integer
    nano-units relative to the locus max (log-space first, so a z=13
    variant cannot overflow),
    making the normalizing total, the cumulative sum, and the
    credible-set membership test ((cum - self)*100 < 95*total) EXACT
    integer algebra — membership can never flip on a ulp of engine
    drift. All windows partition by locus (bounded by construction);
    shuffles carry (chr, bin, long) rows."""
    # id spine minted via spark.range (the _synthetic_assoc pattern —
    # NO global window; the oracle's ROW_NUMBER() OVER () is DuckDB's
    # way of writing the same 0..4n-1 spine)
    n = 4 * table(spark, sf_dir, "lineitem").count()
    W_PRIOR = 0.04
    assoc = spark.range(n).select(
        (F.col("id") % 22 + 1).cast("int").alias("chr"),
        (1 + (F.col("id") * 997) % 50000000).cast("long").alias("pos"),
        F.col("id").alias("variant_id"),
        (
            -F.log(
                ((F.col("id") * 2654435761) % 1000003 + 1).cast("double")
                / 1000004.0
            )
        ).alias("z"),
        (0.05 + ((F.col("id") * 7919) % 1000).cast("double") / 10000.0).alias(
            "se"
        ),
    )
    loci = assoc.select(
        "chr",
        (F.col("pos") / 1000000).cast("int").alias("bin"),
        "variant_id",
        "z",
        "se",
    )
    loci = loci.localCheckpoint(eager=False)  # feeds lead AND cand
    lead = (
        loci.groupBy("chr", "bin")
        .agg(F.max("z").alias("mz"))
        .filter(F.col("mz") >= 10.0)
        .select("chr", "bin")
    )
    se2 = F.col("se") * F.col("se")
    cand = (
        loci.join(lead, ["chr", "bin"])
        .filter(F.col("z") >= 3.0)
        .select(
            "chr",
            "bin",
            "variant_id",
            "z",
            # labf is ln()-built; the JVM's and DuckDB's libm can differ
            # in the last ulp, and an unrounded labf puts that ulp right
            # at the 1e9 quantization boundary (ADVICE r9). Rounding to
            # 6 dp FIRST means both engines hand exp() the identical
            # double, so the nano-unit integers below agree exactly.
            F.round(
                0.5 * F.log(se2 / (se2 + W_PRIOR))
                + F.col("z") * F.col("z") / 2 * (W_PRIOR / (se2 + W_PRIOR)),
                6,
            ).alias("labf"),
        )
    )
    wl = Window.partitionBy("chr", "bin")
    rel = cand.select(
        "chr",
        "bin",
        "variant_id",
        "z",
        F.round(F.exp(F.col("labf") - F.max("labf").over(wl)) * 1e9)
        .cast("long")
        .alias("rel_i"),
    )
    wo = Window.partitionBy("chr", "bin").orderBy(
        F.col("rel_i").desc(), "variant_id"
    )
    ranked = rel.select(
        "chr",
        "bin",
        "variant_id",
        "z",
        "rel_i",
        F.sum("rel_i").over(wl).alias("total_i"),
        F.sum("rel_i").over(wo).alias("cum_i"),
        F.row_number().over(wo).cast("long").alias("cs_rank"),
    )
    return ranked.select(
        "chr",
        "bin",
        "variant_id",
        F.round("z", 9).alias("z"),
        F.round(F.col("rel_i").cast("double") / F.col("total_i"), 9).alias(
            "pp"
        ),
        "cs_rank",
        ((F.col("cum_i") - F.col("rel_i")) * 100 < 95 * F.col("total_i")).alias(
            "in_cs95"
        ),
    )


@query(
    "x156_hard_negatives",
    "X-search,X-curation",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+'))
               AS term
      FROM documents
    ),
    postings AS (
      SELECT doc, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY 1, 2
    ),
    doclen AS (SELECT doc, SUM(tf) AS dl FROM postings GROUP BY 1),
    consts AS (
      SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
    ),
    q(term) AS (VALUES ('hash'), ('join'), ('vector')),
    hit AS (SELECT p.doc, p.term, p.tf FROM postings p JOIN q USING (term)),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df_t FROM hit GROUP BY 1),
    scored AS (
      SELECT doc,
             SUM(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) AS score
      FROM hit JOIN dfc USING (term) JOIN doclen USING (doc) CROSS JOIN consts
      GROUP BY doc
    ),
    top AS (
      SELECT doc, score, rank FROM (
        SELECT doc, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rank
        FROM scored
      ) WHERE rank <= 10
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS gs
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
            FROM documents)
      WHERE doc_id IN (SELECT doc FROM top)
    ),
    pos AS (
      SELECT g.gs AS pos_gs FROM g JOIN top ON top.doc = g.doc_id
      WHERE top.rank = 1
    )
    SELECT top.doc AS doc_id,
           CAST(top.rank AS BIGINT) AS rank,
           ROUND(top.score, 6) AS score,
           ROUND(CAST(len(list_intersect(g.gs, pos.pos_gs)) AS DOUBLE)
                 / (len(g.gs) + len(pos.pos_gs)
                    - len(list_intersect(g.gs, pos.pos_gs))), 9)
             AS jaccard_vs_top,
           (top.rank > 1
            AND CAST(len(list_intersect(g.gs, pos.pos_gs)) AS DOUBLE)
                / (len(g.gs) + len(pos.pos_gs)
                   - len(list_intersect(g.gs, pos.pos_gs))) < 0.2)
             AS is_hard_negative
    FROM top JOIN g ON g.doc_id = top.doc CROSS JOIN pos
    """,
)
def x156_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval training — the data op behind
    every dense-embedding fine-tune (DPR, Karpukhin et al. 2020): take
    a query's BM25 top-k, call the top-1 hit the positive, and keep the
    other lexically-competitive hits that are NOT near-duplicates of it
    (3-gram Jaccard < 0.2) as hard negatives — documents the lexical
    ranker finds plausible but which a semantic model must learn to
    push away; near-dups of the positive are EXCLUDED because training
    against them teaches the model to separate paraphrases (the
    false-negative trap). Shape: x12's pruned-postings BM25 gives the
    top-k (broadcast term semi-join, per-task heaps), the gram arrays
    build ONLY for those k docs (left-semi against the k-row hit list),
    and the Jaccard is a k-row cross join against the single positive —
    everything after the BM25 aggregate is bounded by k, never corpus."""
    from gwasdb_spark.operators.dedup import _gram_array
    from gwasdb_spark.operators.search import bm25_topk

    d = table(spark, sf_dir, "documents")
    top = bm25_topk(d, ["hash", "join", "vector"], "doc_id", "text", k=10)
    top = top.localCheckpoint(eager=False)  # feeds grams, pos, and output
    gr = (
        d.join(F.broadcast(top.select("doc_id")), "doc_id", "left_semi")
        .select(
            "doc_id",
            _gram_array(F.split(F.trim(F.col("text")), r"\s+"), 3).alias(
                "gs"
            ),
        )
    )
    pos = (
        gr.join(
            F.broadcast(top.filter(F.col("rank") == 1).select("doc_id")),
            "doc_id",
        )
        .select(F.col("gs").alias("pos_gs"))
    )
    inter = F.size(F.array_intersect(F.col("gs"), F.col("pos_gs")))
    jac = inter.cast("double") / (
        F.size("gs") + F.size("pos_gs") - inter
    )
    return (
        top.join(gr, "doc_id")
        .crossJoin(F.broadcast(pos))
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("score", 6).alias("score"),
            F.round(jac, 9).alias("jaccard_vs_top"),
            ((F.col("rank") > 1) & (jac < 0.2)).alias("is_hard_negative"),
        )
    )


def _acid_dml_replay(spark: SparkSession, sf_dir: str, base: str):
    """The m03 DML sequence against an AcidTable at `base`, applied
    resumably off latest_version (a crashed prior invocation finishes;
    a completed one is a read-only no-op): v0 create (the sub-1000
    orderkey slice), v1 DELETE qty<10, v2 UPDATE qty>40 price*=2, v3
    blind APPEND of 5 sentinel rows. Shared by m03 (time travel) and
    x158 (changefeed) so both adjudicate the same committed algebra."""
    from gwasdb_spark.acid import AcidTable

    t = AcidTable(spark, base)
    if t.latest_version() < 0:
        v0df = table(spark, sf_dir, "lineitem").filter(
            F.col("l_orderkey") < 1000
        ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        t = AcidTable.create(spark, base, v0df)
    if t.latest_version() == 0:
        t.delete_where(F.col("l_quantity") < 10)
    if t.latest_version() == 1:
        t.update_set(
            F.col("l_quantity") > 40,
            {"l_extendedprice": F.col("l_extendedprice") * 2},
        )
    if t.latest_version() == 2:
        t.append(
            spark.createDataFrame(
                [(-k, 1, 1.0, 1.0) for k in range(1, 6)],
                "l_orderkey long, l_linenumber int, l_quantity double, "
                "l_extendedprice double",
            )
        )
    return t


def m03_stage(sf_dir: str) -> str:
    """m03's AcidTable location, keyed by corpus (shared with bench.py's
    stage reset so timed runs measure the DML commits, not a warm
    no-op re-read — ADVICE r9)."""
    import hashlib as _hl

    return stage_dir(f"acid_m03_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}")


def m03_reset_stage(sf_dir: str) -> None:
    """Drop m03's staged AcidTable so the next invocation replays the
    full create + 3-DML + 4-snapshot-read sequence from scratch."""
    import shutil as _sh

    _sh.rmtree(m03_stage(sf_dir), ignore_errors=True)


@query(
    "m03_acid_timetravel",
    "X-dml,M1,M2,M3",
    oracle="""
    WITH v0 AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey < 1000
    ),
    v1 AS (SELECT * FROM v0 WHERE NOT (l_quantity < 10)),
    v2 AS (
      SELECT l_orderkey, l_linenumber, l_quantity,
             CASE WHEN l_quantity > 40 THEN l_extendedprice * 2
                  ELSE l_extendedprice END AS l_extendedprice
      FROM v1
    ),
    v3 AS (
      SELECT * FROM v2
      UNION ALL
      SELECT -CAST(k AS BIGINT), 1, 1.0, 1.0 FROM range(1, 6) r(k)
    )
    SELECT 0 AS version, 'create' AS op,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM v0
    UNION ALL
    SELECT 1, 'delete', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    FROM v1
    UNION ALL
    SELECT 2, 'update', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    FROM v2
    UNION ALL
    SELECT 3, 'append', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    FROM v3
    """,
)
def m03_acid_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACID table log made driver-checkable: a lineitem slice
    becomes an AcidTable, three DML commits land on it (DELETE of
    sub-10 quantities, UPDATE doubling prices above quantity 40, a
    5-row blind APPEND), and every version 0-3 is read back BY TIME
    TRAVEL and summarized — the oracle recomputes each snapshot's
    (row count, exact cents sum) from the DML algebra, so a hash match
    proves the log's snapshots are exactly the states the statements
    committed and that no commit disturbed an earlier version's files.
    DML is applied resumably off latest_version (a crashed prior
    invocation finishes, a completed one is a read-only no-op —
    idempotent like every staged query); sums are exact integer cents
    (price*2 is exact in binary FP for 2-dp values, so cents commute
    with the update on both engines)."""
    t = _acid_dml_replay(spark, sf_dir, m03_stage(sf_dir))
    parts = []
    for v, op in [(0, "create"), (1, "delete"), (2, "update"), (3, "append")]:
        parts.append(
            t.read(v).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                .cast("long")
                .alias("sum_cents"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                F.lit(op).alias("op"),
                "n_rows",
                "sum_cents",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "w13_ohlc_monthly",
    "X-window,X-analytics",
    oracle="""
    WITH o AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             CAST(o_orderdate AS DATE) AS d, o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    r AS (
      SELECT month, cents,
             ROW_NUMBER() OVER (PARTITION BY month ORDER BY d, k)
               AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY month ORDER BY d DESC, k DESC)
               AS rn_close
      FROM o
    )
    SELECT strftime(month, '%Y-%m') AS month,
           MAX(CASE WHEN rn_open = 1 THEN cents END) AS open_cents,
           MAX(cents) AS high_cents,
           MIN(cents) AS low_cents,
           MAX(CASE WHEN rn_close = 1 THEN cents END) AS close_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM r GROUP BY month
    """,
)
def w13_ohlc_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly OHLC (open/high/low/close) over order values — the
    candlestick rollup every financial time-series system keys on,
    done WITHOUT per-group ordered windows: open and close are
    struct-ordered MIN/MAX aggregates ((date, orderkey, cents) — first
    two fields give the time order with a deterministic key tiebreak,
    the third rides along), so the whole query is ONE partial-aggregable
    exchange where the oracle's two ROW_NUMBER windows would each sort
    every group. Exact integer cents throughout; at 100 TB this is the
    difference between a map-side-combined aggregate and two full
    per-month sorts."""
    o = table(spark, sf_dir, "orders").select(
        F.date_format(F.trunc(F.to_date("o_orderdate"), "month"), "yyyy-MM")
        .alias("month"),
        F.to_date("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return o.groupBy("month").agg(
        F.min(F.struct("d", "k", "cents")).getField("cents").alias(
            "open_cents"
        ),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max(F.struct("d", "k", "cents")).getField("cents").alias(
            "close_cents"
        ),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )


def _m04_stage(sf_dir: str) -> str:
    import hashlib as _hl

    return stage_dir(f"acid_m04_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}")


def m04_reset_stage(sf_dir: str) -> None:
    """Drop m04's staged AcidTable (bench.py resets it outside the
    timed span, like m03's — a warm stage is a read-only no-op)."""
    import shutil as _sh

    _sh.rmtree(_m04_stage(sf_dir), ignore_errors=True)


@query(
    "m04_acid_pruned_dml",
    "X-dml,M1,M2,M3",
    oracle="""
    WITH t AS (
      SELECT m, m // 3 AS t1, 2 * m // 3 AS t2,
             2 * m // 3 + (m - 2 * m // 3) // 2 AS t3
      FROM (SELECT MAX(o_orderkey) AS m FROM orders)
    ),
    base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM orders
    ),
    v0 AS (SELECT base.* FROM base, t WHERE o_orderkey < t1),
    v1 AS (SELECT base.* FROM base, t WHERE o_orderkey < t2),
    v2 AS (SELECT * FROM base),
    v3 AS (
      SELECT base.* FROM base, t
      WHERE NOT (o_orderkey >= t1 AND o_orderkey < t2
                 AND o_totalprice < 150000.0)
    ),
    v4 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey < t1 AND o_totalprice > 300000.0
                  THEN o_totalprice * 2 ELSE o_totalprice END
               AS o_totalprice,
             o_orderpriority
      FROM v3, t
    ),
    v5 AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM v4, t WHERE NOT (o_orderkey >= t2 AND o_orderkey < t3)
      UNION ALL
      SELECT o_orderkey, o_custkey, 555.0, o_orderpriority
      FROM base, t WHERE o_orderkey >= t2 AND o_orderkey < t3
      UNION ALL
      SELECT m + 10, -1, 555.0, 'X' FROM t
      UNION ALL
      SELECT m + 11, -1, 555.0, 'X' FROM t
    ),
    agg AS (
      SELECT 0 AS version, 'create' AS op, COUNT(*) AS n,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM v0
      UNION ALL
      SELECT 1, 'append', COUNT(*),
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM v1
      UNION ALL
      SELECT 2, 'append', COUNT(*),
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM v2
      UNION ALL
      SELECT 3, 'delete(pruned 1/3)', COUNT(*),
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM v3
      UNION ALL
      SELECT 4, 'update(pruned 1/3)', COUNT(*),
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM v4
      UNION ALL
      SELECT 5, 'merge(pruned 1/3)', COUNT(*),
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM v5
    )
    SELECT version, op, CAST(n AS BIGINT) AS n_rows,
           CAST(cents AS BIGINT) AS sum_cents
    FROM agg
    """,
)
def m04_acid_pruned_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping DML made driver-checkable (r9 verdict #2): a
    3-group AcidTable over orders (disjoint o_orderkey thirds via
    create + two appends — orders because o_orderkey is UNIQUE, so
    MERGE semantics are engine-portable) takes a range-scoped DELETE,
    a range-scoped UPDATE, and a key-boxed MERGE through
    `acid.predicates` specs. Each statement's manifest `op` records
    how many groups its stats admitted, and those op STRINGS are part
    of the oracle contract ('delete(pruned 1/3)' ...), so the driver
    hash itself fails if skipping ever regresses to reading more
    groups. Every version 0-5 reads back by time travel with exact
    integer-cents sums (the m03 discipline). Split points are
    data-relative (thirds of max key) so every group is non-empty at
    every SF.

    At 100 TB this is the operator that keeps a selective UPDATE from
    costing a full table rewrite: untouched groups ride manifests
    verbatim, files unopened (mtime-gated in tests/test_acid_pruning
    and scripts/stress_scale.py aciddml). Reference analog: row-level
    SQL DML relying on Postgres indexes (R/postgres_process.Rmd:119).
    DML applies resumably off latest_version, idempotent when warm."""
    from gwasdb_spark.acid import AcidTable
    from gwasdb_spark.acid import predicates as P

    base_path = _m04_stage(sf_dir)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    m = o.agg(F.max("o_orderkey")).collect()[0][0]  # 1-row bounded collect
    t1, t2 = m // 3, 2 * m // 3
    t3 = t2 + (m - t2) // 2
    t = AcidTable(spark, base_path)
    if t.latest_version() < 0:
        t = AcidTable.create(
            spark, base_path, o.filter(F.col("o_orderkey") < t1)
        )
    if t.latest_version() == 0:
        t.append(
            o.filter((F.col("o_orderkey") >= t1) & (F.col("o_orderkey") < t2))
        )
    if t.latest_version() == 1:
        t.append(o.filter(F.col("o_orderkey") >= t2))
    if t.latest_version() == 2:
        t.delete_where(
            P.And(
                P.Ge("o_orderkey", t1),
                P.Lt("o_orderkey", t2),
                P.Lt("o_totalprice", 150000.0),
            )
        )
    if t.latest_version() == 3:
        t.update_set(
            P.And(P.Lt("o_orderkey", t1), P.Gt("o_totalprice", 300000.0)),
            {"o_totalprice": F.col("o_totalprice") * 2},
        )
    if t.latest_version() == 4:
        src = o.filter(
            (F.col("o_orderkey") >= t2) & (F.col("o_orderkey") < t3)
        ).withColumn("o_totalprice", F.lit(555.0)).unionByName(
            spark.createDataFrame(
                [(m + 10, -1, 555.0, "X"), (m + 11, -1, 555.0, "X")],
                "o_orderkey long, o_custkey long, o_totalprice double, "
                "o_orderpriority string",
            )
        )
        t.merge(src, ["o_orderkey"])
    hist = {h["version"]: h["op"] for h in t.history()}
    parts = []
    for v in range(6):
        parts.append(
            t.read(v).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                .alias("sum_cents"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                # the ENGINE's committed op string — the oracle pins the
                # expected 'pruned k/n' literals, so group skipping is
                # itself hash-adjudicated
                F.lit(hist[v]).alias("op"),
                "n_rows",
                "sum_cents",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "x158_acid_changefeed",
    "X-dml,X-streaming",
    oracle="""
    WITH v0 AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey < 1000
    ),
    v1 AS (SELECT * FROM v0 WHERE NOT (l_quantity < 10)),
    changed AS (SELECT * FROM v1 WHERE l_quantity > 40),
    appended AS (
      SELECT -CAST(k AS BIGINT) AS l_orderkey, 1 AS l_linenumber,
             1.0 AS l_quantity, 1.0 AS l_extendedprice
      FROM range(1, 6) r(k)
    ),
    agg AS (
      SELECT 0 AS version, 'create' AS op,
             COUNT(*) AS rows_added, 0 AS rows_removed,
             COALESCE(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)), 0)
               AS cents_added,
             0 AS cents_removed
      FROM v0
      UNION ALL
      SELECT 1, 'delete', 0, COUNT(*), 0,
             COALESCE(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)), 0)
      FROM v0 WHERE l_quantity < 10
      UNION ALL
      SELECT 2, 'update', COUNT(*), COUNT(*),
             COALESCE(SUM(CAST(round(l_extendedprice * 2 * 100) AS BIGINT)),
                      0),
             COALESCE(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)), 0)
      FROM changed
      UNION ALL
      SELECT 3, 'append', COUNT(*), 0,
             COALESCE(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)), 0),
             0
      FROM appended
    )
    SELECT version, op, CAST(rows_added AS BIGINT) AS rows_added,
           CAST(rows_removed AS BIGINT) AS rows_removed,
           CAST(cents_added AS BIGINT) AS cents_added,
           CAST(cents_removed AS BIGINT) AS cents_removed
    FROM agg
    """,
)
def x158_acid_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed derived from snapshots alone (Delta CDF's
    lazy-computation mode, public design): for every committed version
    the engine computes added = v ∖ v-1 and removed = v-1 ∖ v as
    MULTISET differences (exceptAll — two shuffles per version pair,
    each bounded by the slice), without replaying or even knowing the
    statements. The ORACLE, by contrast, derives the same feed from
    the DML algebra (it knows what the statements were) — a hash match
    proves the log's version diffs are exactly the committed changes:
    an UPDATE surfaces as paired add+remove of the changed rows, a
    DELETE as pure removes, an APPEND as pure adds. Feeds downstream
    incremental consumers (st09-style serving tables) without a
    second pipeline. Replays the m03 statement sequence on its own
    stage (resumable, idempotent when warm)."""
    import hashlib as _hl

    t = _acid_dml_replay(
        spark,
        sf_dir,
        stage_dir(f"acid_x158_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}"),
    )
    cents = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("long")
    ).cast("long")
    parts = []
    for v, op in [(0, "create"), (1, "delete"), (2, "update"), (3, "append")]:
        cur = t.read(v)
        prev = t.read(v - 1) if v > 0 else cur.limit(0)
        added = cur.exceptAll(prev).agg(
            F.count(F.lit(1)).cast("long").alias("rows_added"),
            F.coalesce(cents, F.lit(0)).alias("cents_added"),
        )
        removed = prev.exceptAll(cur).agg(
            F.count(F.lit(1)).cast("long").alias("rows_removed"),
            F.coalesce(cents, F.lit(0)).alias("cents_removed"),
        )
        # 1-row x 1-row constant relations — broadcast, never cartesian
        parts.append(
            added.crossJoin(removed).select(
                F.lit(v).cast("int").alias("version"),
                F.lit(op).alias("op"),
                "rows_added",
                "rows_removed",
                "cents_added",
                "cents_removed",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "w14_session_windows",
    "X-window,§2.5",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                  OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
                AS BIGINT) AS duration_sec,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_cents
    FROM s GROUP BY user_id, sid
    """,
)
def w14_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH session windows via Spark's native `session_window` (st02's
    streaming sessionizer has carried this semantics; this is the
    catalog-query form BI users run): per-user sessions split at
    >= 30-minute gaps, each emitting (start, event count, duration,
    exact cents sum). session_window is a built-in GROUPING expression
    — one shuffle on (user_id, merged window), no per-user Python, no
    full-stream ordered window — where the oracle does classic
    gaps-and-islands (lag + running break-count). Boundary semantics
    pinned by the hash: two events exactly 30 minutes apart are
    DIFFERENT sessions (Spark merges only when gap < 30 min; the
    oracle breaks on >= 30 min). Timestamps exit as formatted strings
    (the engine-portability discipline in plans/helpers.py)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            # micros first, floor-divide once: per-ts unix_timestamp()
            # would TRUNCATE each endpoint's fraction before the diff
            # while the oracle diffs fractions then casts — a +-1 s
            # disagreement on ~1.3% of sessions (found at sf0.01)
            ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
             / F.lit(1000000)).cast("long").alias("duration_sec"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("sum_value_cents"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
        )
        .select(
            "user_id", "session_start", "n_events", "duration_sec",
            "sum_value_cents",
        )
    )


@query(
    "e16_funnel_dropoff",
    "X-events,X-analytics",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, v.t1, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id, v.t1
    ),
    p AS (
      SELECT e.user_id, c.t2, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id, c.t2
    ),
    g2 AS (
      SELECT CAST((epoch_us(t2) - epoch_us(t1)) // 1000000 AS BIGINT)
               AS gap,
             ROW_NUMBER() OVER (
               ORDER BY (epoch_us(t2) - epoch_us(t1)) // 1000000) AS rn,
             COUNT(*) OVER () AS n
      FROM c
    ),
    g3 AS (
      SELECT CAST((epoch_us(t3) - epoch_us(t2)) // 1000000 AS BIGINT)
               AS gap,
             ROW_NUMBER() OVER (
               ORDER BY (epoch_us(t3) - epoch_us(t2)) // 1000000) AS rn,
             COUNT(*) OVER () AS n
      FROM p
    )
    SELECT 1 AS step, 'view' AS event_type,
           CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users,
           CAST(NULL AS BIGINT) AS median_gap_sec
    UNION ALL
    SELECT 2, 'click', CAST((SELECT COUNT(*) FROM c) AS BIGINT),
           (SELECT gap FROM g2 WHERE rn = CAST(ceil(n / 2.0) AS BIGINT))
    UNION ALL
    SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM p) AS BIGINT),
           (SELECT gap FROM g3 WHERE rn = CAST(ceil(n / 2.0) AS BIGINT))
    """,
)
def e16_funnel_dropoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel dropoff with step latencies: users whose
    first view precedes a later click precedes a later purchase —
    x35's cohort funnel counts conversions; this measures WHERE the
    funnel loses people and how long surviving steps take. Engine
    shape: three skinny per-user MIN aggregates chained by time-bounded
    joins (each join input shrinks — the funnel itself prunes), never
    a window over the full event stream. Step latency medians are
    EXACT nearest-rank statistics on integer seconds: Spark's
    percentile_approx(accuracy=10k) equals the ceil(n/2)-rank value
    outright below 10k rows (the x13 exactness pin), and the oracle
    picks the same rank explicitly — hash-identical, no band."""
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("t1").alias("t1"), F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("t2").alias("t2"), F.min("ts").alias("t3"))
    )
    # micros-diff then one floor-divide (the w14 fraction lesson):
    # per-endpoint second truncation disagrees with the oracle by 1 s
    gap2 = (
        (F.unix_micros("t2") - F.unix_micros("t1")) / F.lit(1000000)
    ).cast("long")
    gap3 = (
        (F.unix_micros("t3") - F.unix_micros("t2")) / F.lit(1000000)
    ).cast("long")
    s1 = v.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
        F.lit(1).cast("int").alias("step"),
        F.lit("view").alias("event_type"),
        "n_users",
        F.lit(None).cast("long").alias("median_gap_sec"),
    )
    s2 = c.select(gap2.alias("gap")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.percentile_approx("gap", 0.5, 10_000).cast("long").alias(
            "median_gap_sec"
        ),
    ).select(
        F.lit(2).cast("int").alias("step"),
        F.lit("click").alias("event_type"),
        "n_users",
        "median_gap_sec",
    )
    s3 = p.select(gap3.alias("gap")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.percentile_approx("gap", 0.5, 10_000).cast("long").alias(
            "median_gap_sec"
        ),
    ).select(
        F.lit(3).cast("int").alias("step"),
        F.lit("purchase").alias("event_type"),
        "n_users",
        "median_gap_sec",
    )
    return s1.unionByName(s2).unionByName(s3)


@query(
    "x160_lsh_band_tuning",
    "X-dedup,X-qa",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(w) - 2, 0) + 1),
                 i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingles
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents)
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    rare AS (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 100),
    pruned AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN rare USING (shingle)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM pruned a JOIN pruned b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS j
      FROM shared
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.12
    ),
    base AS (
      SELECT j, 1 - j AS a1, 1 - j * j AS a2,
             1 - (j * j) * (j * j) AS a4,
             1 - ((j * j) * (j * j)) * ((j * j) * (j * j)) AS a8
      FROM pairs
    ),
    sq1 AS (SELECT a1 * a1 AS b1, a2 * a2 AS b2, a4 * a4 AS b4,
                   a8 * a8 AS b8 FROM base),
    sq2 AS (SELECT b1 * b1 AS c1, b2 * b2 AS c2, b4 * b4 AS c4, b8
            FROM sq1),
    sq3 AS (SELECT c1 * c1 AS d1, c2 * c2 AS d2, c4, b8 FROM sq2),
    nano AS (
      SELECT CAST(round((1 - d1 * d1) * 1e9) AS BIGINT) AS p16_1,
             CAST(round((1 - d2) * 1e9) AS BIGINT) AS p8_2,
             CAST(round((1 - c4) * 1e9) AS BIGINT) AS p4_4,
             CAST(round((1 - b8) * 1e9) AS BIGINT) AS p2_8
      FROM sq3
    ),
    agg AS (
      SELECT COUNT(*) AS n, SUM(p16_1) AS s16, SUM(p8_2) AS s8,
             SUM(p4_4) AS s4, SUM(p2_8) AS s2
      FROM nano
    )
    SELECT 16 AS bands, 1 AS rows_per_band, CAST(n AS BIGINT) AS n_pairs,
           CAST(s16 AS BIGINT) AS expected_caught_nano,
           ROUND(s16 / n / 1e9, 6) AS expected_recall
    FROM agg
    UNION ALL
    SELECT 8, 2, CAST(n AS BIGINT), CAST(s8 AS BIGINT),
           ROUND(s8 / n / 1e9, 6) FROM agg
    UNION ALL
    SELECT 4, 4, CAST(n AS BIGINT), CAST(s4 AS BIGINT),
           ROUND(s4 / n / 1e9, 6) FROM agg
    UNION ALL
    SELECT 2, 8, CAST(n AS BIGINT), CAST(s2 AS BIGINT),
           ROUND(s2 / n / 1e9, 6) FROM agg
    """,
)
def x160_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding tuner: for each (bands b, rows-per-band r)
    layout of a 16-hash signature, the expected recall of the TRUE
    near-dup pair set (x02's exact-Jaccard pairs, j >= 0.12) under the
    S-curve catch probability 1-(1-j^r)^b — the number every dedup
    deployment computes before picking its LSH layout (x03 runs one
    point of this grid). Numeric discipline: j is an exact integer
    ratio, and ALL powers are explicit repeated-squaring
    MULTIPLICATIONS (never libm pow), so every intermediate double is
    IEEE-deterministic and bit-identical across engines; per-pair
    probabilities quantize to integer nano-units BEFORE summing (the
    g19 discipline), making the aggregate exact. One extra aggregate
    over the pair relation — the tuner costs one scan of the pairs it
    tunes for."""
    from gwasdb_spark.operators import dedup as DD

    d = table(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.12, max_shingle_docs=100
    )
    j = F.col("jaccard")
    jj = j * j
    a1 = F.lit(1) - j
    a2 = F.lit(1) - jj
    a4 = F.lit(1) - jj * jj
    a8 = F.lit(1) - (jj * jj) * (jj * jj)
    b1, b2, b4, b8 = a1 * a1, a2 * a2, a4 * a4, a8 * a8
    c1, c2, c4 = b1 * b1, b2 * b2, b4 * b4
    d1, d2 = c1 * c1, c2 * c2
    nano = pairs.select(
        F.round((F.lit(1) - d1 * d1) * 1e9).cast("long").alias("p16_1"),
        F.round((F.lit(1) - d2) * 1e9).cast("long").alias("p8_2"),
        F.round((F.lit(1) - c4) * 1e9).cast("long").alias("p4_4"),
        F.round((F.lit(1) - b8) * 1e9).cast("long").alias("p2_8"),
    )
    agg = nano.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p16_1").alias("s16"),
        F.sum("p8_2").alias("s8"),
        F.sum("p4_4").alias("s4"),
        F.sum("p2_8").alias("s2"),
    # Pin the ONE-ROW aggregate (r14, guide §2.4): the four (bands,
    # rows_per_band) output rows each select from this relation, and
    # collect_set inside the pair pipeline is flagged nondeterministic,
    # which disqualifies every exchange under it from reuse — unpinned,
    # the physical plan evaluated the ENTIRE x02 pair pipeline once per
    # branch (24 parquet scans of `documents` in the before-plan, zero
    # ReusedExchange). Eager, because the four union branches would
    # otherwise race the first materialization inside one job.
    ).localCheckpoint(eager=True)
    parts = []
    for bands, rows_pb, col in [(16, 1, "s16"), (8, 2, "s8"),
                                (4, 4, "s4"), (2, 8, "s2")]:
        parts.append(
            agg.select(
                F.lit(bands).cast("int").alias("bands"),
                F.lit(rows_pb).cast("int").alias("rows_per_band"),
                F.col("n").cast("long").alias("n_pairs"),
                F.col(col).cast("long").alias("expected_caught_nano"),
                F.round(
                    F.col(col) / F.col("n") / 1e9, 6
                ).alias("expected_recall"),
            )
        )
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out


def _m05_stage(sf_dir: str) -> str:
    import hashlib as _hl

    return stage_dir(f"acid_m05_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}")


def m05_reset_stage(sf_dir: str) -> None:
    """Drop m05's staged AcidTable (bench.py resets it outside the
    timed span — the m03/m04 discipline)."""
    import shutil as _sh

    _sh.rmtree(_m05_stage(sf_dir), ignore_errors=True)


@query(
    "m05_acid_cluster",
    "X-dml,X-layout",
    oracle="""
    WITH t AS (
      SELECT MAX(l_orderkey) // 8 AS thresh
      FROM lineitem WHERE l_orderkey < 6000
    ),
    base AS (
      SELECT l_orderkey, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey < 6000
    ),
    v0 AS (SELECT * FROM base WHERE l_orderkey % 4 = 0),
    v1 AS (SELECT * FROM base WHERE l_orderkey % 4 <= 1),
    v2 AS (SELECT * FROM base WHERE l_orderkey % 4 <= 2),
    v3 AS (SELECT * FROM base),
    v5 AS (SELECT base.* FROM base, t WHERE l_orderkey > thresh),
    agg AS (
      SELECT 0 AS version, 'create' AS op, COUNT(*) AS n,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
      FROM v0
      UNION ALL
      SELECT 1, 'append', COUNT(*),
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM v1
      UNION ALL
      SELECT 2, 'append', COUNT(*),
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM v2
      UNION ALL
      SELECT 3, 'append', COUNT(*),
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM v3
      UNION ALL
      SELECT 4, 'cluster(l_orderkey, 4)', COUNT(*),
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM v3
      UNION ALL
      SELECT 5, 'delete(pruned 1/4)', COUNT(*),
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM v5
    )
    SELECT version, op, CAST(n AS BIGINT) AS n_rows,
           CAST(cents AS BIGINT) AS sum_cents
    FROM agg
    """,
)
def m05_acid_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout maintenance made driver-checkable: four appends of
    INTERLEAVED key slices (l_orderkey % 4) build a table where every
    file group's key box spans the whole range — stats can prune
    NOTHING — then `cluster_by("l_orderkey", 4)` rewrites the table
    into four range-disjoint groups (exact quantile boundaries, one
    staging pass partitioned by bucket, bucket dirs renamed into place
    as groups), and a range DELETE that previously would have touched
    4/4 groups commits as 'delete(pruned 1/4)'. Both the cluster op
    string and the pruned-delete op string are oracle literals, so the
    layout optimization's effect on skipping is itself
    hash-adjudicated; every version's (rows, exact cents) proves
    clustering is logically a no-op. This is Delta OPTIMIZE ZORDER
    reduced to the range dimension the engine skips on — at 100 TB
    you pay one rewrite to make every later selective DML O(1) groups.
    Resumable off latest_version, idempotent warm."""
    from gwasdb_spark.acid import AcidTable
    from gwasdb_spark.acid import predicates as P

    base_path = _m05_stage(sf_dir)
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 6000
    ).select("l_orderkey", "l_quantity", "l_extendedprice")
    thresh = (
        li.agg(F.max("l_orderkey")).collect()[0][0] // 8
    )  # 1-row bounded collect
    t = AcidTable(spark, base_path)
    if t.latest_version() < 0:
        t = AcidTable.create(
            spark, base_path, li.filter(F.col("l_orderkey") % 4 == 0)
        )
    for k in (1, 2, 3):
        if t.latest_version() == k - 1:
            t.append(li.filter(F.col("l_orderkey") % 4 == k))
    if t.latest_version() == 3:
        t.cluster_by("l_orderkey", 4)
    if t.latest_version() == 4:
        t.delete_where(P.Le("l_orderkey", thresh))
    hist = {h["version"]: h["op"] for h in t.history()}
    parts = []
    for v in range(6):
        parts.append(
            t.read(v).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                .cast("long")
                .alias("sum_cents"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                F.lit(hist[v]).alias("op"),
                "n_rows",
                "sum_cents",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "w15_range_frame_revenue",
    "X-window,§2.5",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderkey, o_custkey, day,
           CAST(SUM(cents) OVER (
             PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_30d_cents,
           CAST(COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_30d_orders
    FROM o
    """,
)
def w15_range_frame_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (the frame type the w-family lacked: w02/w06
    run ROWS frames, w11 a rolling row count, st08 a streaming slide):
    per customer, each order's trailing-30-DAY revenue and order count —
    a VALUE-based frame over the day number, so gaps in the order
    history widen or shrink the row window (ROWS BETWEEN cannot express
    this). One shuffle on o_custkey; the frame is per-partition state
    inside the window exec, no self-join blowup (the naive equivalent
    is an O(n*30d) range self-join). Day = epoch day number (integer),
    money = exact cents; ties on day are frame-EQUAL (RANGE includes
    all peer rows), which both engines define identically."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-29, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "day",
        F.sum("cents").over(w).cast("long").alias("trailing_30d_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_30d_orders"),
    )

def _m06_stage(sf_dir: str) -> str:
    import hashlib as _hl

    return stage_dir(f"acid_m06_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}")


def m06_reset_stage(sf_dir: str) -> None:
    """Drop m06's staged AcidTable (bench resets it outside the timed
    span — the m03/m04/m05 discipline)."""
    import shutil as _sh

    _sh.rmtree(_m06_stage(sf_dir), ignore_errors=True)


@query(
    "m06_acid_bloom_skipping",
    "X-dml,X-layout",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ),
    k AS (
      SELECT
        MAX(CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey END) AS m0,
        MAX(CASE WHEN o_orderkey % 3 = 1 THEN o_orderkey END) AS m1,
        MAX(CASE WHEN o_orderkey % 3 = 2 THEN o_orderkey END) AS m2,
        MIN(CASE WHEN o_orderkey % 3 = 2 THEN o_orderkey END) AS k2min
      FROM base
    ),
    v0 AS (SELECT * FROM base WHERE o_orderkey % 3 = 0),
    v1 AS (SELECT * FROM base WHERE o_orderkey % 3 <= 1),
    v2 AS (SELECT * FROM base),
    v3 AS (SELECT base.* FROM base, k WHERE o_orderkey <> m2),
    v4 AS (
      SELECT v3.* FROM v3, k WHERE o_orderkey NOT IN (m0, m1)
    ),
    v5 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey = k2min THEN 555.0
                  ELSE o_totalprice END AS o_totalprice
      FROM v4, k
    ),
    agg AS (
      SELECT 0 AS version, 'create' AS op, COUNT(*) AS n,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM v0
      UNION ALL
      SELECT 1, 'append', COUNT(*),
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM v1
      UNION ALL
      SELECT 2, 'append', COUNT(*),
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM v2
      UNION ALL
      SELECT 3, 'delete(pruned 1/3)', COUNT(*),
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM v3
      UNION ALL
      SELECT 4, 'delete(pruned 2/3)', COUNT(*),
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM v4
      UNION ALL
      SELECT 5, 'update(pruned 1/2)', COUNT(*),
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) FROM v5
    )
    SELECT version, op, CAST(n AS BIGINT) AS n_rows,
           CAST(cents AS BIGINT) AS sum_cents
    FROM agg
    """,
)
def m06_acid_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping made driver-checkable (parquet footer
    blooms probed on the driver — the role of Delta bloom indexes; see
    acid/bloom.py). Three file groups hold INTERLEAVED o_orderkey
    residues (mod 3), so every group's [min, max] spans the whole key
    range and min/max stats can prune NOTHING — the worst case for
    m04's skipping and the exact case blooms exist for. A point DELETE
    (Eq on the max residue-2 key) must commit 'delete(pruned 1/3)', a
    two-key IsIn DELETE straddling residues 0 and 1 must commit
    'delete(pruned 2/3)' (its two touched groups merge into one new
    group), and a point UPDATE on the min residue-2 key then prunes
    1/2. Those op strings are oracle literals: if bloom probing ever
    degrades (the writer options dropped so footers carry no filter,
    hash or layout drift between parquet's writer and the Python
    footer probe, a false negative), the pruned counts change and the
    driver hash fails. Every version 0-5 reads back by time
    travel with exact integer-cents sums.

    At 100 TB this is the skip path for PII/takedown deletes keyed by
    id on tables NOT clustered by that id — min/max is useless there
    and rewriting every group per delete is the cost being avoided
    (pairs with x31 pii scrub and x157 ANN deletes). Probe keys are
    data-relative (per-residue max/min) so all three groups are
    non-empty at every SF. Resumable off latest_version."""
    from gwasdb_spark.acid import AcidTable
    from gwasdb_spark.acid import predicates as P

    base_path = _m06_stage(sf_dir)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    res = F.col("o_orderkey") % 3
    row = o.agg(
        F.max(F.when(res == 0, F.col("o_orderkey"))).alias("m0"),
        F.max(F.when(res == 1, F.col("o_orderkey"))).alias("m1"),
        F.max(F.when(res == 2, F.col("o_orderkey"))).alias("m2"),
        F.min(F.when(res == 2, F.col("o_orderkey"))).alias("k2min"),
    ).collect()[0]  # 1-row bounded collect
    t = AcidTable(spark, base_path)
    if t.latest_version() < 0:
        t = AcidTable.create(
            spark, base_path, o.filter(res == 0), bloom_cols=["o_orderkey"]
        )
    if t.latest_version() == 0:
        t.append(o.filter(res == 1))
    if t.latest_version() == 1:
        t.append(o.filter(res == 2))
    if t.latest_version() == 2:
        t.delete_where(P.Eq("o_orderkey", row["m2"]))
    if t.latest_version() == 3:
        t.delete_where(P.IsIn("o_orderkey", [row["m0"], row["m1"]]))
    if t.latest_version() == 4:
        t.update_set(
            P.Eq("o_orderkey", row["k2min"]),
            {"o_totalprice": F.lit(555.0)},
        )
    hist = {h["version"]: h["op"] for h in t.history()}
    parts = []
    for v in range(6):
        parts.append(
            t.read(v).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                .alias("sum_cents"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                # committed op strings carry the engine's real pruned
                # counts — the oracle pins the expected literals
                F.lit(hist[v]).alias("op"),
                "n_rows",
                "sum_cents",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _m07_stage(sf_dir: str) -> str:
    import hashlib as _hl

    return stage_dir(f"acid_m07_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}")


def m07_reset_stage(sf_dir: str) -> None:
    """Drop m07's staged AcidTable (bench resets it outside the timed
    span — the m03..m06 discipline)."""
    import shutil as _sh

    _sh.rmtree(_m07_stage(sf_dir), ignore_errors=True)


@query(
    "m07_acid_check_constraints",
    "X-dml,M4",
    oracle="""
    WITH t AS (
      SELECT MAX(l_orderkey) // 2 AS mid
      FROM lineitem WHERE l_orderkey < 4000
    ),
    base AS (
      SELECT l_orderkey, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey < 4000
    ),
    v0 AS (SELECT base.* FROM base, t WHERE l_orderkey <= mid),
    v1 AS (SELECT * FROM base),
    synth AS (
      SELECT CAST(-1 AS BIGINT) AS l_orderkey, 5.0 AS l_quantity,
             10.0 AS l_extendedprice
      UNION ALL
      SELECT CAST(-2 AS BIGINT), 7.0, 20.0
    ),
    v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM synth),
    v5 AS (
      SELECT l_orderkey,
             CASE WHEN l_orderkey = -1 THEN -5.0 ELSE l_quantity END
               AS l_quantity,
             l_extendedprice
      FROM v2
    ),
    agg AS (
      SELECT 0 AS version, 'create' AS op, COUNT(*) AS n,
             SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS q
      FROM v0
      UNION ALL
      SELECT 1, 'append', COUNT(*),
             SUM(CAST(round(l_quantity * 100) AS BIGINT)) FROM v1
      UNION ALL
      SELECT 2, 'append', COUNT(*),
             SUM(CAST(round(l_quantity * 100) AS BIGINT)) FROM v2
      UNION ALL
      SELECT 3, 'add_check(price_cap)', COUNT(*),
             SUM(CAST(round(l_quantity * 100) AS BIGINT)) FROM v2
      UNION ALL
      SELECT 4, 'drop_check(qty_nonneg)', COUNT(*),
             SUM(CAST(round(l_quantity * 100) AS BIGINT)) FROM v2
      UNION ALL
      SELECT 5, 'update(pruned 1/3)', COUNT(*),
             SUM(CAST(round(l_quantity * 100) AS BIGINT)) FROM v5
    )
    SELECT version, op, CAST(n AS BIGINT) AS n_rows,
           CAST(q AS BIGINT) AS sum_qty_units
    FROM agg
    """,
)
def m07_acid_check_constraints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHECK constraints made driver-checkable (Delta's ALTER TABLE ..
    ADD CONSTRAINT CHECK semantics, native — r9 verdict missing #4).
    The table is created WITH a constraint (qty_nonneg), and the query
    itself exercises both rejection paths in-line:

    - a poisoned append (one row with l_quantity = -1) MUST raise
      CheckViolation and commit nothing — the query raises if it ever
      passes, so enforcement regressions fail the driver row loudly;
      only the valid synthetic rows then land as version 2;
    - add_check(price_cap) validates the whole snapshot, then commits
      METADATA-ONLY (v3's rows/sums are oracle-pinned equal to v2's);
    - a poisoned UPDATE (qty - 1000 over the low half) MUST raise and
      leave the table unchanged;
    - after drop_check(qty_nonneg), a negative-qty UPDATE commits as
      v5 — pruned to the 1-group synthetic range by min/max stats
      ('update(pruned 1/3)' is an oracle literal).

    The version history (op strings, exact row counts, exact
    centi-qty sums) hash-pins the whole lifecycle: what committed,
    what was rejected, and that rejected statements left no trace
    (atomicity). Reference analog: the reference enforces post-load
    expectations as audit queries (SURVEY §2 M4, gwas/audit.py); this
    moves them into the write path, where a 100 TB pipeline needs
    them — a bad batch must abort, not be discovered downstream.
    Resumable off latest_version, idempotent warm."""
    from gwasdb_spark.acid import AcidTable, CheckViolation
    from gwasdb_spark.acid import predicates as P

    base_path = _m07_stage(sf_dir)
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 4000
    ).select("l_orderkey", "l_quantity", "l_extendedprice")
    mid = li.agg(F.max("l_orderkey")).collect()[0][0] // 2  # bounded
    synth_schema = (
        "l_orderkey long, l_quantity double, l_extendedprice double"
    )
    t = AcidTable(spark, base_path)
    if t.latest_version() < 0:
        t = AcidTable.create(
            spark,
            base_path,
            li.filter(F.col("l_orderkey") <= mid),
            checks={"qty_nonneg": "l_quantity >= 0"},
        )
    if t.latest_version() == 0:
        t.append(li.filter(F.col("l_orderkey") > mid))
    if t.latest_version() == 1:
        poisoned = spark.createDataFrame(
            [(-1, 5.0, 10.0), (-2, 7.0, 20.0), (-3, -1.0, 30.0)],
            synth_schema,
        )
        try:
            t.append(poisoned)
            raise AssertionError("CHECK enforcement regressed: "
                                 "poisoned append committed")
        except CheckViolation:
            pass
        t.append(
            spark.createDataFrame(
                [(-1, 5.0, 10.0), (-2, 7.0, 20.0)], synth_schema
            )
        )
    if t.latest_version() == 2:
        t.add_check("price_cap", "l_extendedprice <= 10000000.0")
    if t.latest_version() == 3:
        try:
            t.update_set(
                P.Le("l_orderkey", mid),
                {"l_quantity": F.col("l_quantity") - F.lit(1000.0)},
            )
            raise AssertionError("CHECK enforcement regressed: "
                                 "poisoned update committed")
        except CheckViolation:
            pass
        t.drop_check("qty_nonneg")
    if t.latest_version() == 4:
        t.update_set(P.Eq("l_orderkey", -1), {"l_quantity": F.lit(-5.0)})
    hist = {h["version"]: h["op"] for h in t.history()}
    parts = []
    for v in range(6):
        parts.append(
            t.read(v).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
                .cast("long")
                .alias("sum_qty_units"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                F.lit(hist[v]).alias("op"),
                "n_rows",
                "sum_qty_units",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out

def _m08_stage(sf_dir: str) -> str:
    import hashlib as _hl

    return stage_dir(f"acid_m08_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}")


def m08_reset_stage(sf_dir: str) -> None:
    """Drop m08's staged AcidTable (bench resets it outside the timed
    span — the m03..m07 discipline)."""
    import shutil as _sh

    _sh.rmtree(_m08_stage(sf_dir), ignore_errors=True)


@query(
    "m08_acid_schema_evolution",
    "X-dml,S17",
    oracle="""
    WITH t AS (
      SELECT MAX(o_orderkey) // 2 AS mid,
             MAX(o_orderkey) // 4 AS tdel,
             MAX(o_orderkey) AS mx
      FROM orders
    ),
    base AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    ),
    v0 AS (SELECT base.* FROM base, t WHERE o_orderkey <= mid),
    v1lo AS (SELECT base.* FROM base, t WHERE o_orderkey <= mid),
    v1hi AS (SELECT base.* FROM base, t WHERE o_orderkey > mid),
    v2lo AS (SELECT v1lo.* FROM v1lo, t WHERE o_orderkey > tdel),
    agg AS (
      SELECT 0 AS version, 'create' AS op, COUNT(*) AS n,
             0 AS n_flag,
             SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM v0
      UNION ALL
      SELECT 1, 'append',
             (SELECT COUNT(*) FROM v1lo) + (SELECT COUNT(*) FROM v1hi),
             (SELECT COUNT(*) FROM v1hi),
             (SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              FROM base)
      UNION ALL
      SELECT 2, 'delete(pruned 1/2)',
             (SELECT COUNT(*) FROM v2lo) + (SELECT COUNT(*) FROM v1hi),
             (SELECT COUNT(*) FROM v1hi),
             (SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              FROM v2lo)
             + (SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                FROM v1hi)
      UNION ALL
      SELECT 99, 'read_where(scanned 1/2)', COUNT(*), COUNT(*),
             SUM(CAST(round(o_totalprice * 100) AS BIGINT))
      FROM base, t WHERE o_orderkey = mx
    )
    SELECT version, op, CAST(n AS BIGINT) AS n_rows,
           CAST(n_flag AS BIGINT) AS n_flag, CAST(cents AS BIGINT)
             AS sum_cents
    FROM agg
    """,
)
def m08_acid_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Schema evolution + serving-path skipping made driver-checkable.
    Version 0 holds the low key half with (o_orderkey, o_totalprice);
    the high half then arrives WITH A NEW COLUMN (o_flag) via
    append(merge_schema=True) — a metadata-only widening: the old
    group's files are never rewritten and null-fill o_flag at read
    (n_flag counts prove exactly which rows carry it). A plain append
    with an unexpected column MUST raise SchemaMismatch and commit
    nothing — the query raises if that enforcement ever regresses. A
    pruned DELETE then touches only the PRE-evolution group and its
    rewrite must keep the wide schema (v2's n_flag is oracle-pinned
    unchanged). Finally the sentinel version-99 row records
    `read_where` — manifest-level skipping on the SERVING path: the
    max-key point lookup lists 1 of 2 groups to Spark ('scanned 1/2'
    is an oracle literal via scan_groups) and returns exactly the
    max order's row and cents.

    Time travel keeps each version's own schema (v0 reads back
    without o_flag — its n_flag is a pinned 0). At 100 TB, evolution
    as metadata is the difference between adding a feature column to
    a petabyte table in milliseconds vs a full rewrite; read_where is
    the difference between a point lookup planning 1 file group vs
    enumerating them all. Resumable off latest_version."""
    from gwasdb_spark.acid import AcidTable
    from gwasdb_spark.acid import predicates as P
    from gwasdb_spark.acid.table_log import SchemaMismatch

    base_path = _m08_stage(sf_dir)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    mx = o.agg(F.max("o_orderkey")).collect()[0][0]  # bounded
    mid, tdel = mx // 2, mx // 4
    t = AcidTable(spark, base_path)
    if t.latest_version() < 0:
        t = AcidTable.create(
            spark,
            base_path,
            o.filter(F.col("o_orderkey") <= mid).select(
                "o_orderkey", "o_totalprice"
            ),
        )
    if t.latest_version() == 0:
        hi = o.filter(F.col("o_orderkey") > mid).select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderpriority").alias("o_flag"),
        )
        try:
            t.append(hi)  # no opt-in: must be rejected
            raise AssertionError(
                "schema enforcement regressed: widening append "
                "committed without merge_schema"
            )
        except SchemaMismatch:
            pass
        t.append(hi, merge_schema=True)
    if t.latest_version() == 1:
        t.delete_where(P.Le("o_orderkey", tdel))
    hist = {h["version"]: h["op"] for h in t.history()}
    parts = []
    for v in range(3):
        snap = t.read(v)
        flag_cnt = (
            F.count("o_flag") if "o_flag" in snap.columns
            else F.lit(0)
        )
        parts.append(
            snap.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                flag_cnt.cast("long").alias("n_flag"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .cast("long")
                .alias("sum_cents"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                F.lit(hist[v]).alias("op"),
                "n_rows",
                "n_flag",
                "sum_cents",
            )
        )
    # sentinel row: the serving path's group-skipping contract
    lookup = P.Eq("o_orderkey", mx)
    scanned, total = t.scan_groups(lookup)
    parts.append(
        t.read_where(lookup).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("o_flag").cast("long").alias("n_flag"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        ).select(
            F.lit(99).cast("int").alias("version"),
            F.lit(f"read_where(scanned {scanned}/{total})").alias("op"),
            "n_rows",
            "n_flag",
            "sum_cents",
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "x161_exact_substring_spans",
    "X-dedup,X-quality",
    oracle="""
    WITH g AS (
      SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
             substr(text, CAST(u.pos AS INT), 40) AS gram
      FROM documents,
           LATERAL unnest(range(1, greatest(length(text) - 39, 0) + 1))
             AS u(pos)
    ),
    occ AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
    dup AS (SELECT g.doc_id, g.pos FROM g JOIN occ USING (gram)),
    brk AS (
      SELECT doc_id, pos,
             CASE WHEN LAG(pos) OVER w IS NULL
                    OR pos > LAG(pos) OVER w + 40 THEN 1 ELSE 0 END AS is_new
      FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM brk
    ),
    spans AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 39 AS e
      FROM isl GROUP BY 1, 2
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
             CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars
      FROM spans GROUP BY 1
    )
    SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
           COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
           COALESCE(p.dup_chars, 0) AS dup_chars,
           ROUND(CASE WHEN length(d.text) > 0
                 THEN CAST(COALESCE(p.dup_chars, 0) AS DOUBLE)
                      / length(d.text)
                 ELSE 0.0 END, 9) AS dup_char_frac
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def x161_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup audit (Lee et al. 2022): maximal character
    spans whose every 40-char sliding window occurs at least twice in
    the corpus — the regions an exact-substring dedup pass would cut.
    The suffix-array formulation of the single-node tooling is replaced
    by hashed sliding windows + per-doc interval merge: identical
    >= 40-char duplicate regions, but embarrassingly parallel (the one
    corpus-sized shuffle carries 8-byte digests, never window text).
    Oracle groups by the literal gram text; the Spark side's
    digest-only grouping rides the 2^-60 collision contract
    (operators/quality.py exact_substring_spans)."""
    from gwasdb_spark.operators.quality import exact_substring_spans

    d = table(spark, sf_dir, "documents")
    return exact_substring_spans(d, "doc_id", "text", window=40)


def _m09_stage(sf_dir: str) -> str:
    import hashlib as _hl

    return stage_dir(f"acid_m09_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}")


def m09_reset_stage(sf_dir: str) -> None:
    """Drop m09's staged AcidTable (bench resets outside the timed
    span — the m03/m04/m05 discipline)."""
    import shutil as _sh

    _sh.rmtree(_m09_stage(sf_dir), ignore_errors=True)


@query(
    "m09_acid_zorder",
    "X-dml,X-layout",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey < 6000
    ),
    v0 AS (SELECT * FROM base WHERE o_orderkey % 4 = 0),
    v1 AS (SELECT * FROM base WHERE o_orderkey % 4 <= 1),
    v2 AS (SELECT * FROM base WHERE o_orderkey % 4 <= 2),
    v3 AS (SELECT * FROM base),
    box AS (
      SELECT * FROM base
      WHERE o_custkey BETWEEN 100 AND 400
        AND cents BETWEEN 5000000 AND 15000000
    ),
    agg AS (
      SELECT 0 AS version, 'create' AS op, COUNT(*) AS n, SUM(cents) AS c
      FROM v0
      UNION ALL SELECT 1, 'append', COUNT(*), SUM(cents) FROM v1
      UNION ALL SELECT 2, 'append', COUNT(*), SUM(cents) FROM v2
      UNION ALL SELECT 3, 'append', COUNT(*), SUM(cents) FROM v3
      UNION ALL SELECT 4, 'zorder(o_custkey,cents)', COUNT(*), SUM(cents)
      FROM v3
      UNION ALL SELECT 99, 'read_where(box)', COUNT(*), SUM(cents) FROM box
    )
    SELECT version, op, CAST(n AS BIGINT) AS n_rows,
           CAST(c AS BIGINT) AS sum_cents
    FROM agg
    """,
)
def m09_acid_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional Z-order layout made driver-checkable (the 2-D
    completion of m05's 1-D clustering): four interleaved appends build
    a table whose every file group spans the FULL (o_custkey, cents)
    plane — stats prune nothing on either dimension — then
    `cluster_by_zorder(["o_custkey", "cents"])` rewrites it into
    Morton-ordered file groups whose bounding boxes are compact in BOTH
    columns, and a 2-D box lookup serves through `read_where` with
    manifest-level skipping. Every version's (rows, exact cents) proves
    the rewrite is logically a no-op; the box row proves the skipping
    path returns the exact SQL answer. The scanned<total skipping claim
    itself is pinned by tests/test_acid_pruning.py::
    test_zorder_prunes_on_both_dimensions (group counts are
    quantile-derived and SF-dependent, so they stay out of the oracle
    literal, unlike m04/m05's engineered prune fractions). Resumable
    off latest_version, idempotent warm."""
    from gwasdb_spark.acid import AcidTable
    from gwasdb_spark.acid import predicates as P

    base_path = _m09_stage(sf_dir)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 6000)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    t = AcidTable(spark, base_path)
    if t.latest_version() < 0:
        t = AcidTable.create(
            spark, base_path, o.filter(F.col("o_orderkey") % 4 == 0)
        )
    for k in (1, 2, 3):
        if t.latest_version() == k - 1:
            t.append(o.filter(F.col("o_orderkey") % 4 == k))
    if t.latest_version() == 3:
        t.cluster_by_zorder(["o_custkey", "cents"], n_groups=16, tiles=16)
    hist = {h["version"]: h["op"] for h in t.history()}
    parts = []
    for v in range(5):
        # group counts are SF-dependent: normalize the zorder op to its
        # column list (the pytest contract pins the skipping behavior)
        op = hist[v].split(", ")[0] + ")" if v == 4 else hist[v]
        parts.append(
            t.read(v).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                F.lit(op).alias("op"),
                "n_rows",
                "sum_cents",
            )
        )
    box = P.And(
        P.Between("o_custkey", 100, 400),
        P.Between("cents", 5_000_000, 15_000_000),
    )
    parts.append(
        t.read_where(box).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        ).select(
            F.lit(99).cast("int").alias("version"),
            F.lit("read_where(box)").alias("op"),
            "n_rows",
            "sum_cents",
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "st19_late_data_watermark",
    "X-stream,\u00a72.10",
    oracle="""
    WITH a AS (SELECT ts FROM events WHERE ts >= TIMESTAMP '2024-01-20'),
    m AS (SELECT ts FROM events
          WHERE ts >= TIMESTAMP '2024-01-19' AND ts < TIMESTAMP '2024-01-20'),
    b AS (SELECT ts FROM events WHERE ts < TIMESTAMP '2024-01-19'),
    wm AS (SELECT MAX(ts) - INTERVAL 300 HOUR AS w FROM a),
    acc AS (
      SELECT date_trunc('hour', ts) AS h FROM a
      UNION ALL
      SELECT date_trunc('hour', ts) AS h FROM m
      UNION ALL
      SELECT date_trunc('hour', b.ts) AS h FROM b, wm
      WHERE date_trunc('hour', b.ts) + INTERVAL 1 HOUR > wm.w
    )
    SELECT strftime(h, '%Y-%m-%d %H:00:00') AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM acc GROUP BY 1
    """,
)
def st19_late_data_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE watermark late-data semantics, adjudicated exactly: the
    events table is replayed as THREE deterministic micro-batches —
    the on-time tail (ts >= Jan 20) first, a mid slice (Jan 19), then
    every older row as one late batch — through a 300-hour watermarked
    hourly count in UPDATE mode. Spark >= 3.4 carries TWO watermarks
    per batch: late-event FILTERING uses the PREVIOUS batch's
    watermark while state EVICTION uses the current one (the
    single-watermark mental model silently drops nothing on a
    two-batch replay — measured, not guessed: a two-batch run showed
    numRowsDroppedByWatermark=0 with post-batch state already
    evicted). The mid batch exists to promote the on-time batch's
    watermark (max on-time ts - 300 h, ~Jan 18 12:00) into the
    late-event filter for batch three, which then splits BOTH ways:
    late rows whose hour window ends after the watermark are ACCEPTED
    and update their window; older windows are DROPPED. The oracle
    replays the exact rule (drop iff window_end <= watermark) in SQL,
    so the engine's late-data boundary is itself hash-checked.
    Update-mode memory rows are per-batch emissions; counts are
    monotone, so max() per window recovers the final state (st04's
    discipline). Batch order is forced by file mtimes (the file
    source processes oldest-first); state stays O(open windows within
    the horizon) — the bounded-state contract that makes streaming
    aggregation viable at sustained ingest scale."""
    import shutil as _sh

    from gwasdb_spark.streaming.events import run_available_now

    e = table(spark, sf_dir, "events").select("event_id", "ts")
    src = stage_dir(
        f"st19_src_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    if not os.path.isdir(os.path.join(src, "ready")):
        _sh.rmtree(src, ignore_errors=True)
        feed = os.path.join(src, "feed")
        os.makedirs(feed)
        slices = [
            ("00_ontime.parquet", F.col("ts") >= "2024-01-20 00:00:00"),
            (
                "01_mid.parquet",
                (F.col("ts") >= "2024-01-19 00:00:00")
                & (F.col("ts") < "2024-01-20 00:00:00"),
            ),
            ("02_late.parquet", F.col("ts") < "2024-01-19 00:00:00"),
        ]
        for i, (name, pred) in enumerate(slices):
            tmp = os.path.join(src, f"tmp_{i}")
            e.filter(pred).coalesce(1).write.parquet(tmp)
            part = [p for p in os.listdir(tmp) if p.endswith(".parquet")][0]
            dst = os.path.join(feed, name)
            os.rename(os.path.join(tmp, part), dst)
            mtime = 1_000_000_000.0 + 100 * i
            os.utime(dst, (mtime, mtime))
            _sh.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(src, "ready"))
    feed = os.path.join(src, "feed")
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    counts = (
        stream.withWatermark("ts", "300 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    out = run_available_now(counts, "update")
    return out.groupBy(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00:00").alias("hour")
    ).agg(F.max("n").cast("long").alias("n_events"))


@query(
    "x163_bm25_index_delete",
    "X-text,X-search,X-dml",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) AS term
      FROM documents
    ),
    postings0 AS (
      SELECT doc, term, COUNT(*) AS tf FROM toks WHERE term <> ''
      GROUP BY 1, 2
    ),
    doclen0 AS (SELECT doc, SUM(tf) AS dl FROM postings0 GROUP BY 1),
    removed AS (SELECT doc FROM doclen0 WHERE doc % 17 = 3),
    postings AS (
      SELECT * FROM postings0
      WHERE doc NOT IN (SELECT doc FROM removed)
    ),
    doclen AS (
      SELECT * FROM doclen0 WHERE doc NOT IN (SELECT doc FROM removed)
    ),
    consts AS (
      SELECT (SELECT COUNT(*) FROM documents)
               - (SELECT COUNT(*) FROM removed) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
    ),
    q(term) AS (VALUES ('hash'), ('join'), ('vector')),
    hit AS (SELECT p.doc, p.term, p.tf FROM postings p JOIN q USING (term)),
    dfc AS (SELECT term, COUNT(DISTINCT doc) AS df_t FROM hit GROUP BY 1),
    scored AS (
      SELECT doc,
             SUM(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
             ) AS score
      FROM hit JOIN dfc USING (term) JOIN doclen USING (doc) CROSS JOIN consts
      GROUP BY doc
    ),
    topk AS (
      SELECT doc AS doc_id, ROUND(score, 6) AS score,
             CAST(rank AS BIGINT) AS rank
      FROM (
        SELECT doc, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS rank
        FROM scored
      ) WHERE rank <= 10
    )
    SELECT 'tombstoned' AS phase, * FROM topk
    UNION ALL
    SELECT 'compacted', * FROM topk
    """,
)
def x163_bm25_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index takedowns, proven equal to a survivor-only
    rebuild in BOTH LSM states: a takedown batch (every 17th doc)
    lands as doc-grain tombstones (no posting file rewritten — a hot
    doc's postings sit in every term segment, so physical rewrite-on-
    delete is the LSM anti-pattern), the SAME query must then rank
    exactly as an index that never contained the victims (tombstoned
    phase: serve-time anti-join + survivor-accurate n_docs/avgdl/idf),
    and after compact_text_index folds the tombstones into a physical
    rewrite (compacted phase) the answer must not move. The BM25 twin
    of x157's ANN takedowns — PII/DMCA removal is a first-class
    operation of any 100 TB serving index. Idempotent warm: replayed
    deletes are anti-joined into no-ops, a compacted index has no
    victims left to tombstone (operators/search.py
    delete_from_text_index / compact_text_index)."""
    import hashlib as _hl

    from gwasdb_spark.operators.search import (
        bm25_topk_indexed,
        build_text_index,
        compact_text_index,
        delete_from_text_index,
    )

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:12]
    idx = os.path.join(stage_dir(f"bm25_del_{tag}"), "index")
    d = table(spark, sf_dir, "documents")
    if not os.path.isdir(os.path.join(idx, "consts")):
        build_text_index(d, idx)
    delete_from_text_index(
        d.filter(F.col("doc_id") % 17 == 3).select("doc_id"), idx
    )
    terms = ["hash", "join", "vector"]
    q1 = (
        bm25_topk_indexed(spark, idx, terms, "doc_id", k=10)
        .select(F.lit("tombstoned").alias("phase"), "*")
        # materialize before compaction rewrites the files this plan reads
        .localCheckpoint(eager=True)
    )
    compact_text_index(spark, idx)
    q2 = bm25_topk_indexed(spark, idx, terms, "doc_id", k=10).select(
        F.lit("compacted").alias("phase"), "*"
    )
    return q1.unionByName(q2)


@query(
    "j12_scd2_pit_join",
    "J-ext,M2-ext",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_mktsegment AS segment,
             '1995-01-01' AS valid_from,
             CAST(NULL AS VARCHAR) AS valid_to
      FROM customer
    ),
    chg AS (
      SELECT c_custkey, 'UPGRADED' AS segment, '1998-06-01' AS eff
      FROM customer
      WHERE c_custkey % 10 = 3 AND c_mktsegment <> 'UPGRADED'
    ),
    snap AS (
      SELECT b.c_custkey, b.segment, b.valid_from, c.eff AS valid_to
      FROM base b JOIN chg c USING (c_custkey)
      UNION ALL
      SELECT * FROM base
      WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
      UNION ALL
      SELECT c_custkey, segment, eff, CAST(NULL AS VARCHAR) FROM chg
    ),
    f AS (
      SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    j AS (
      SELECT s.segment, substr(f.day, 1, 4) AS order_year, f.cents
      FROM f JOIN snap s ON s.c_custkey = f.o_custkey
        AND f.day >= s.valid_from
        AND f.day < COALESCE(s.valid_to, '9999-12-31')
    )
    SELECT segment, order_year, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM j GROUP BY 1, 2
    """,
)
def j12_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against an SCD2 dimension — the
    leakage-safe enrichment every training-data and warehouse pipeline
    needs: each order joins the customer-segment VERSION that was
    valid ON ITS ORDER DATE (versions built by operators/scd.py
    scd2_apply: every 10th customer upgrades effective 1998-06-01), so
    facts before the change see the old attribute and facts after see
    the new one — joining the current snapshot instead would leak
    future attributes into past rows. Plan shape: equi-join on the
    dimension key plus the interval predicate; fan-out is bounded by
    versions-per-key (2 here, small always), so the join stays a
    plain keyed shuffle at 100 TB — no interval index needed when
    version counts are bounded. Validity bounds and order days compare
    as ISO date strings, identical in both engines."""
    from gwasdb_spark.operators.scd import scd2_apply

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    dim = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1995-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = c.filter(
        (F.col("c_custkey") % 10 == 3) & (F.col("c_mktsegment") != "UPGRADED")
    ).select(
        "c_custkey",
        F.lit("UPGRADED").alias("segment"),
        F.lit("1998-06-01").alias("eff"),
    )
    snap = scd2_apply(dim, changes, ["c_custkey"], ["segment"], eff_col="eff")
    f = o.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    j = f.join(
        snap,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("day") >= F.col("valid_from"))
        & (F.col("day") < F.coalesce(F.col("valid_to"), F.lit("9999-12-31"))),
    )
    return j.groupBy(
        "segment", F.substring("day", 1, 4).alias("order_year")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


@query(
    "g21_ldsc_slope",
    "X-gwas,A2",
    oracle="""
    WITH per AS (
      SELECT l_partkey AS marker,
             l_partkey % 22 AS chr,
             (l_partkey * 9973) % 1000000 AS pos,
             SUM(CAST(round(l_discount * 100) AS BIGINT) - 5) AS num,
             SUM(CAST(round(l_tax * 100) AS BIGINT) + 1) AS den
      FROM lineitem GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT chr, pos,
             CAST(round((CAST(num AS DOUBLE) / den)
                        * (CAST(num AS DOUBLE) / den) * 1e9) AS BIGINT)
               AS chi2_nano,
             CAST(COUNT(*) OVER (
               PARTITION BY chr ORDER BY pos
               RANGE BETWEEN 100000 PRECEDING AND 100000 FOLLOWING
             ) AS BIGINT) AS ld
      FROM per
    ),
    sums AS (
      SELECT chr, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(ld) AS sx, SUM(chi2_nano) AS sy,
             SUM(ld * chi2_nano) AS sxy, SUM(ld * ld) AS sxx
      FROM scored GROUP BY 1
    )
    SELECT chr, n AS n_markers,
           ROUND(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                 ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                      / (n * sxx - sx * sx) / 1e9 END, 9) AS slope,
           ROUND(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                 ELSE CAST(sy * sxx - sx * sxy AS DOUBLE)
                      / (n * sxx - sx * sx) / 1e9 END, 9) AS intercept,
           ROUND(CAST(sy AS DOUBLE) / n / 1e9, 9) AS mean_chi2
    FROM sums
    """,
)
def g21_ldsc_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LD-score-regression slope per chromosome (Bulik-Sullivan 2015's
    diagnostic, the polygenicity-vs-confounding split g13's genomic
    control cannot make): each marker's chi-square statistic regressed
    on its LD score (here the positional proxy the g07/g18 family uses:
    neighbors within +-100 kb on the same chromosome — a RANGE-framed
    per-chr window, value-based so tied positions are frame-equal in
    both engines). Inflation that RISES with LD -> polygenic signal
    (slope); uniform inflation -> confounding (intercept). GWAS grain
    mapped onto lineitem like g10-g14 (marker = l_partkey, z built from
    exact integer cent/tax sums). Numeric discipline: chi2 quantizes to
    integer nano-units per marker BEFORE any aggregation (the g19
    rule), LD scores are integers, so every regression sum is exact
    integer algebra and the slope is one deterministic division.
    Plan: one (marker) aggregate, one per-chr window, one per-chr
    aggregate — shuffles carry 4 longs per marker, never lineitem
    rows."""
    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy(
        F.col("l_partkey").alias("marker"),
        (F.col("l_partkey") % 22).alias("chr"),
        ((F.col("l_partkey") * 9973) % 1000000).alias("pos"),
    ).agg(
        F.sum(F.round(F.col("l_discount") * 100).cast("long") - 5).alias("num"),
        F.sum(F.round(F.col("l_tax") * 100).cast("long") + 1).alias("den"),
    )
    z = F.col("num").cast("double") / F.col("den")
    w = (
        Window.partitionBy("chr")
        .orderBy("pos")
        .rangeBetween(-100000, 100000)
    )
    scored = per.select(
        "chr",
        "pos",
        F.round(z * z * 1e9).cast("long").alias("chi2_nano"),
        F.count(F.lit(1)).over(w).cast("long").alias("ld"),
    )
    # Moment sums and the determinant run in decimal(38,0): DuckDB sums
    # BIGINT into HUGEINT (128-bit), while Spark's long sums overflow
    # SILENTLY (non-ANSI) — decimal makes overflow impossible below 38
    # digits and loud (null/exception) past it, on both engines the same
    # exact integer algebra (ADVICE r10).
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sums = scored.groupBy("chr").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d38(F.col("ld"))).alias("sx"),
        F.sum(d38(F.col("chi2_nano"))).alias("sy"),
        F.sum(d38(F.col("ld")) * d38(F.col("chi2_nano"))).alias("sxy"),
        F.sum(d38(F.col("ld")) * d38(F.col("ld"))).alias("sxx"),
    )
    det = d38(F.col("n")) * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "chr",
        F.col("n").alias("n_markers"),
        F.round(
            F.when(
                det != 0,
                (d38(F.col("n")) * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("double")
                / det.cast("double")
                / 1e9,
            ),
            9,
        ).alias("slope"),
        F.round(
            F.when(
                det != 0,
                (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"))
                .cast("double")
                / det.cast("double")
                / 1e9,
            ),
            9,
        ).alias("intercept"),
        F.round(F.col("sy").cast("double") / F.col("n") / 1e9, 9).alias(
            "mean_chi2"
        ),
    )


@query(
    "x164_token_budget_select",
    "X-sample,X-quality",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT)
               AS n_tokens,
             CAST(len(list_distinct(regexp_extract_all(trim(text), '\S+')))
               AS BIGINT) AS n_distinct
      FROM documents
      WHERE len(regexp_extract_all(trim(text), '\S+')) > 0
    ),
    scored AS (
      SELECT doc_id, n_tokens,
             CAST(round(1e9 * CAST(n_distinct AS DOUBLE) / n_tokens)
               AS BIGINT) AS score_nano
      FROM t
    ),
    c AS (
      SELECT doc_id, n_tokens, score_nano,
             CAST(SUM(n_tokens) OVER (
               ORDER BY score_nano DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, n_tokens, score_nano, cum_tokens
    FROM c WHERE cum_tokens <= 20000
    """,
)
def x164_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection — the 'best N billion tokens'
    curation step every pretraining run ends with: docs ranked by a
    quality score (lexical richness, distinct/total tokens, quantized
    to integer nano-units — the g19 discipline) and the top prefix
    whose RUNNING token total fits the budget (20k here) is selected.
    The global running sum is the scale trap: sum().over(Window.
    orderBy(...)) funnels the corpus through one task. Here it is
    operators/sampling.py global_cumsum — one range exchange on the
    sort key, per-partition cumsums, a partition-count-bounded offset
    window — the weighted sibling of x74's global_row_number, so the
    selection stays distributed at a 100 TB corpus. Exact: integer
    token counts and nano scores, bit-equal prefix on both engines."""
    from gwasdb_spark.functions import text as TX
    from gwasdb_spark.operators.sampling import global_cumsum

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        TX.n_tokens_ws(F.col("text")).cast("long").alias("n_tokens"),
        F.size(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).cast("long").alias("n_distinct"),
    ).filter(F.col("n_tokens") > 0)
    scored = t.select(
        "doc_id",
        "n_tokens",
        F.round(
            1e9 * F.col("n_distinct").cast("double") / F.col("n_tokens")
        ).cast("long").alias("score_nano"),
    )
    cum = global_cumsum(
        scored,
        "n_tokens",
        [F.desc("score_nano"), F.asc("doc_id")],
        cum_col="cum_tokens",
    )
    return cum.filter(F.col("cum_tokens") <= 20000).select(
        "doc_id", "n_tokens", "score_nano", "cum_tokens"
    )


@query(
    "u06_sql_scalar_udf",
    "§2.11,X-text",
    oracle=r"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
             AS total_tokens
    FROM documents GROUP BY lang
    """,
)
def u06_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-registered Arrow scalar UDF — the third UDF surface next to
    u04's UDAF and u05's UDTF (SURVEY §2.11; the reference's only UDF
    is maf_calc): a pandas_udf token counter registered under a SQL
    name and invoked from SQL TEXT, the path a BI tool or SQL-only
    client uses. The UDF receives Arrow batches (vectorized pandas
    str.count, no per-row Python) and sits under a JVM-side aggregate —
    mixing scalar pandas UDFs with native aggregation is allowed
    (unlike GROUPED_AGG, u04's caveat). Production twin: the codegen
    regexp_count expression (the oracle) — registered UDFs are the
    compatibility surface, not the fast path, which is why the engine
    keeps both."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _tok_count(s):
        return s.str.count(r"\S+").astype("int64")

    _tok_count.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.udf.register("tok_count_py", pandas_udf(_tok_count, "long"))

    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("docs_u06")
    return spark.sql(
        """
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tok_count_py(text)) AS BIGINT) AS total_tokens
        FROM docs_u06 GROUP BY lang
        """
    )


@query(
    "mm11_pcm_frame_energy",
    "X-multimodal",
    oracle="""
    WITH s AS (
      SELECT doc_id, k,
             (doc_id * 7 + k * 13) % 4096 - 2048 AS v
      FROM documents, range(0, 256) t(k)
      WHERE doc_id % 5 = 0
    )
    SELECT doc_id, CAST(k // 64 AS BIGINT) AS frame_idx,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v * v) AS BIGINT) AS energy,
           CAST(MAX(abs(v)) AS BIGINT) AS peak_abs
    FROM s GROUP BY doc_id, k // 64
    """,
)
def mm11_pcm_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction with a REAL decode path (mm03's
    discipline applied to the audio modality): every 5th document
    mints an in-plan 256-sample 16-bit mono PCM WAV whose samples
    follow a SQL-computable formula ((doc_id*7 + k*13) % 4096 - 2048,
    little-endian int16 built with hex/unhex so builder and decoder
    are independent); parse_wav_pcm REALLY walks the RIFF chunk stream
    (fmt validation, word-aligned chunk lengths) and decodes the raw
    int16 data — no codec needed, the audio analogue of decode_bmp —
    and pcm_frame_energy emits per-64-sample-frame (sum of squares,
    peak magnitude), the exact integer statistics VAD/silence gates
    run on. The oracle recomputes every frame's energy from the
    generation formula, so container walk, sample decode (sign and
    byte order included), frame split, and the energy math are all
    hash-adjudicated. Compressed codecs stay stubbed like compressed
    images (multimodal/binary.py parse_wav_pcm / pcm_frame_energy)."""
    from gwasdb_spark.multimodal.binary import pcm_frame_energy

    d = table(spark, sf_dir, "documents")
    hdr = (
        "524946462402000057415645666D7420100000000100"
        "0100401F0000803E0000020010006461746100020000"
    )
    val = "((doc_id * 7 + k * 13) % 4096 - 2048 + 65536) % 65536"
    samp_hex = F.expr(
        "concat_ws('', transform(sequence(0, 255), k -> "
        f"concat(substring(lpad(hex({val}), 4, '0'), 3, 2), "
        f"substring(lpad(hex({val}), 4, '0'), 1, 2))))"
    )
    wavs = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.lit("audio/wav").alias("media_type"),
        F.unhex(F.concat(F.lit(hdr), samp_hex)).alias("payload"),
    )
    return pcm_frame_energy(wavs, frame_samples=64)


@query(
    "x165_kneser_ney_bigram",
    "X-text,X-quality",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, token, pos FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS token,
               generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
                 AS pos
        FROM documents
      ) raw WHERE token <> ''
    ),
    bg AS (
      SELECT doc_id, token AS w1,
             LEAD(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok QUALIFY w2 IS NOT NULL
    ),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
    n1f AS (SELECT w1, CAST(COUNT(DISTINCT w2) AS BIGINT) AS n1f
            FROM bg GROUP BY 1),
    n1b AS (SELECT w2, CAST(COUNT(DISTINCT w1) AS BIGINT) AS n1b
            FROM bg GROUP BY 1),
    nbi AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nbi FROM c12),
    t AS (
      SELECT doc_id,
             LN((greatest(c12 - 0.75, 0.0)
                 + 0.75 * n1f * (n1b / nbi)) / c1) AS lp
      FROM bg
      JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
      JOIN n1f USING (w1) JOIN n1b USING (w2) CROSS JOIN nbi
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(lp), 9) AS avg_logprob,
           ROUND(MIN(lp), 9) AS min_logprob
    FROM t GROUP BY doc_id
    """,
)
def x165_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the smoothing real LM
    quality filters (KenLM) actually use, one up from x55's add-one:
    P(w2|w1) = (max(c12 - D, 0) + D * N1+(w1,.) * Pcont(w2)) / c1 with
    absolute discount D = 0.75 and the CONTINUATION probability
    Pcont(w2) = N1+(.,w2) / |distinct bigrams| — novel-continuation
    types, not raw frequency, which is exactly what add-one gets wrong
    for burstily-repeated tokens. All five count relations are
    vocabulary- or bigram-type-bounded (never corpus-text-sized
    shuffles); the type total rides as a broadcast 1-row constant;
    stop-word skew on the w1-grain joins is AQE-split (x55's note).
    Discount arithmetic is fixed-order with identical parenthesization
    in both engines; 9-dp round absorbs libm ln's last-ulp (x30/x55
    discipline)."""
    from gwasdb_spark.operators.quality import positional_tokens
    from pyspark.sql.window import Window as W

    d = table(spark, sf_dir, "documents")
    toks = positional_tokens(d, "doc_id", "text")
    w = W.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.withColumn("w2", F.lead("token").over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.col("token").alias("w1"), "w2")
        .localCheckpoint(eager=False)  # feeds 4 count relations + scorer
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    n1f = bg.groupBy("w1").agg(
        F.count_distinct("w2").cast("long").alias("n1f")
    )
    n1b = bg.groupBy("w2").agg(
        F.count_distinct("w1").cast("long").alias("n1b")
    )
    nbi = c12.agg(F.count(F.lit(1)).cast("double").alias("nbi"))
    lp = F.log(
        (
            F.greatest(F.col("c12") - 0.75, F.lit(0.0))
            + 0.75 * F.col("n1f") * (F.col("n1b") / F.col("nbi"))
        )
        / F.col("c1")
    )
    t = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(n1f, "w1")
        .join(n1b, "w2")
        .crossJoin(F.broadcast(nbi))
        .select("doc_id", lp.alias("lp"))
    )
    return t.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), 9).alias("avg_logprob"),
        F.round(F.min("lp"), 9).alias("min_logprob"),
    )


@query(
    "w16_v_pattern_detect",
    "X-window,§2.5",
    oracle="""
    WITH p AS (
      SELECT l_partkey AS part,
             epoch_us(l_shipdate) AS t, l_orderkey AS ok,
             l_linenumber AS ln,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price
      FROM lineitem
    ),
    steps AS (
      SELECT part, t, ok, ln, price,
             LAG(price) OVER w AS prev_price,
             ROW_NUMBER() OVER w AS step_idx
      FROM p WINDOW w AS (PARTITION BY part ORDER BY t, ok, ln)
      QUALIFY prev_price IS NOT NULL
    ),
    dirs AS (
      SELECT part, step_idx, prev_price, price,
             CASE WHEN price > prev_price THEN 1
                  WHEN price < prev_price THEN -1 ELSE 0 END AS dir
      FROM steps
    ),
    brk AS (
      SELECT *, CASE WHEN LAG(dir) OVER w IS NULL
                       OR dir <> LAG(dir) OVER w THEN 1 ELSE 0 END AS is_new
      FROM dirs WINDOW w AS (PARTITION BY part ORDER BY step_idx)
    ),
    runs AS (
      SELECT part, run_id, MIN(dir) AS dir,
             CAST(COUNT(*) AS BIGINT) AS run_len,
             MIN(struct_pack(i := step_idx, v := prev_price)).v
               AS start_price,
             MAX(struct_pack(i := step_idx, v := price)).v AS end_price
      FROM (
        SELECT part, step_idx, prev_price, price, dir,
               SUM(is_new) OVER (PARTITION BY part ORDER BY step_idx)
                 AS run_id
        FROM brk
      ) GROUP BY 1, 2
    ),
    v AS (
      SELECT d.part, d.start_price - d.end_price AS depth
      FROM runs d JOIN runs u
        ON u.part = d.part AND u.run_id = d.run_id + 1
      WHERE d.dir = -1 AND u.dir = 1
    ),
    allp AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_steps
             FROM steps GROUP BY 1)
    SELECT a.part, a.n_steps,
           CAST(COALESCE(COUNT(v.depth), 0) AS BIGINT) AS n_v_patterns,
           CAST(MAX(v.depth) AS BIGINT) AS max_depth_cents
    FROM allp a LEFT JOIN v ON v.part = a.part
    GROUP BY 1, 2
    """,
)
def w16_v_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching composed from
    windows (Spark has no MATCH_RECOGNIZE; this is the standard
    translation): per part, the shipment-ordered price series is
    segmented into maximal same-direction RUNS (strict up / strict
    down / flat — gaps-and-islands on the step direction), and the
    pattern DOWN+ UP+ (a 'V': monotone decline into a trough then
    recovery, flat steps break the pattern) is matched by joining each
    run to its successor. Reports per part: step count, V count, and
    the deepest V's decline in exact cents. Every window is
    part-partitioned (group-bounded state); run endpoints come from
    struct-ordered MIN/MAX (w13's trick — partial-aggregable, no
    per-group sorts); the run relation the pattern join touches is
    runs-per-part-sized, not row-sized. All-integer algebra end to
    end. Timestamps diff in integer microseconds only for ORDERING
    (the w14/e16 cross-engine lesson does not bite: no epoch
    arithmetic lands in the output)."""
    li = table(spark, sf_dir, "lineitem")
    p = li.select(
        F.col("l_partkey").alias("part"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("t"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price"),
    )
    w = Window.partitionBy("part").orderBy("t", "ok", "ln")
    steps = (
        p.withColumn("prev_price", F.lag("price").over(w))
        .withColumn("step_idx", F.row_number().over(w))
        .filter(F.col("prev_price").isNotNull())
        .localCheckpoint(eager=False)  # feeds runs AND the step counts
    )
    dirs = steps.withColumn(
        "dir",
        F.when(F.col("price") > F.col("prev_price"), 1)
        .when(F.col("price") < F.col("prev_price"), -1)
        .otherwise(0),
    )
    w2 = Window.partitionBy("part").orderBy("step_idx")
    brk = dirs.withColumn(
        "is_new",
        F.when(
            F.lag("dir").over(w2).isNull()
            | (F.col("dir") != F.lag("dir").over(w2)),
            1,
        ).otherwise(0),
    ).withColumn("run_id", F.sum("is_new").over(w2))
    runs = brk.groupBy("part", "run_id").agg(
        F.min("dir").alias("dir"),
        F.count(F.lit(1)).cast("long").alias("run_len"),
        F.min(F.struct(F.col("step_idx").alias("i"),
                       F.col("prev_price").alias("v")))["v"].alias(
            "start_price"
        ),
        F.max(F.struct(F.col("step_idx").alias("i"),
                       F.col("price").alias("v")))["v"].alias("end_price"),
    )
    down = runs.filter(F.col("dir") == -1).select(
        "part",
        F.col("run_id").alias("d_run"),
        (F.col("start_price") - F.col("end_price")).alias("depth"),
    )
    up = runs.filter(F.col("dir") == 1).select(
        "part", F.col("run_id").alias("u_run")
    )
    v = down.join(
        up,
        (down.part == up.part) & (up.u_run == down.d_run + 1),
    ).select(down.part.alias("part"), "depth")
    allp = steps.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_steps")
    )
    return (
        allp.join(v, "part", "left")
        .groupBy("part", "n_steps")
        .agg(
            F.count("depth").cast("long").alias("n_v_patterns"),
            F.max("depth").cast("long").alias("max_depth_cents"),
        )
    )


@query(
    "e17_markov_absorption",
    "X-events,X-eval",
    oracle="""
    WITH RECURSIVE g AS (
      SELECT user_id, event_type AS src, ts, event_id,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    cells AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
      FROM g WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    rowtot AS (SELECT src, SUM(c) AS tot FROM cells GROUP BY 1),
    states AS (
      SELECT DISTINCT s FROM (
        SELECT src AS s FROM cells UNION ALL SELECT dst FROM cells
      )
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM states),
    p AS (
      SELECT cells.src, cells.dst,
             CAST(c AS DOUBLE) / CAST(tot AS DOUBLE) AS w
      FROM cells JOIN rowtot USING (src)
      UNION ALL
      SELECT d.s AS src, st.s AS dst, 1.0 / nn.n AS w
      FROM (SELECT s FROM states
            WHERE s NOT IN (SELECT src FROM cells)) d
      CROSS JOIN states st CROSS JOIN nn
      UNION ALL
      SELECT s AS src, s AS dst, 0.0 AS w FROM states
    ),
    h(iter, s, v) AS (
      -- v must be DOUBLE: a bare 0.0 literal types the recursive
      -- column DECIMAL(2,1) and silently truncates every iteration
      SELECT 0, s, CAST(0.0 AS DOUBLE) FROM states
      UNION ALL
      SELECT q.iter + 1, p.src,
             CASE WHEN p.src = 'purchase' THEN CAST(0.0 AS DOUBLE)
                  ELSE 1.0 + SUM(p.w * q.v) END
      FROM h q JOIN p ON p.dst = q.s
      WHERE q.iter < 25
      GROUP BY q.iter, p.src
    )
    SELECT s AS event_type, (s = 'purchase') AS is_absorbing,
           ROUND(v, 9) AS expected_steps
    FROM h WHERE iter = 25
    """,
)
def e17_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected steps to conversion — the absorbing-chain sibling of
    e09's stationary distribution: with 'purchase' made absorbing,
    h(s) = 1 + sum_s' P(s,s') h(s') estimates how many behavioral
    steps a user at state s is from converting (the funnel-depth
    number e16's dropoff rates cannot give). 25 FIXED value-iteration
    steps from h=0 (the horizon-25 truncated expectation — a
    deterministic object both engines compute identically, sidestepping
    convergence tests); dst-only states get e09's dangling-uniform row
    so no mass is dropped, zero-weight self rows keep every state in
    the oracle's recursive working table. Same scale contract as e09:
    the matrix is |event types|^2 broadcast-scale BY CONTRACT, counted
    distributed (one per-user lag window + one aggregate), collected
    bounded, iterated in numpy; 9-dp round absorbs association
    drift."""
    import numpy as np

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cells = (
        e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    rows = cells.collect()  # |types|^2-bounded by contract
    states = sorted({r["src"] for r in rows} | {r["dst"] for r in rows})
    idx = {s: i for i, s in enumerate(states)}
    n = len(states)
    P = np.zeros((n, n))
    for r in rows:
        P[idx[r["src"]], idx[r["dst"]]] = r["c"]
    tot = P.sum(axis=1, keepdims=True)
    dangling = tot[:, 0] == 0.0
    Pn = P / np.where(tot == 0.0, 1.0, tot)
    Pn[dangling, :] = 1.0 / n
    absorbing = idx.get("purchase")
    h = np.zeros(n)
    for _ in range(25):
        h = 1.0 + Pn @ h
        if absorbing is not None:
            h[absorbing] = 0.0
    out = [
        (s, s == "purchase", float(round(h[idx[s]], 9))) for s in states
    ]
    return spark.createDataFrame(
        out, "event_type string, is_absorbing boolean, expected_steps double"
    )


@query(
    "st20_stream_acid_sink",
    "X-stream,X-dml",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(4 AS BIGINT) AS n_batch_commits
    FROM events GROUP BY 1
    """,
)
def st20_stream_acid_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE exactly-once streaming ingest INTO the transactional table —
    the composition that makes st14's idempotent-sink promise a TABLE
    property instead of a file-layout trick: the events feed (4 files,
    maxFilesPerTrigger=1 -> 4 micro-batches) streams through
    foreach_batch_acid_append, each batch committing as one atomic
    stamped AcidTable append ('append(batch N)', Delta's txn-version
    pattern), and then THE WHOLE STREAM RUNS AGAIN with a FRESH
    checkpoint — the worst-case at-least-once replay, every batch
    redelivered. The stamped history turns all four replays into
    no-ops: n_batch_commits (count of stamped appends in the table
    log, emitted into the hashed result) must still be 4, and the
    table must aggregate to exactly the batch events — duplicates
    would break both the count column and the sums. Snapshot isolation
    means a reader mid-ingest sees a committed prefix, never a torn
    batch (streaming/events.py foreach_batch_acid_append)."""
    import shutil as _sh
    import tempfile as _tf
    import hashlib as _hl

    from gwasdb_spark.streaming.events import foreach_batch_acid_append

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:12]
    base = stage_dir(f"st20_acid_{tag}")
    feed = os.path.join(base, "feed")
    tbl = os.path.join(base, "table")
    e = table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    if not os.path.isdir(feed):
        e.repartition(4).write.parquet(feed)
    schema = spark.read.parquet(feed).schema
    for _run in range(2):  # run 2: full redelivery under a fresh ckpt
        ckpt = _tf.mkdtemp(prefix="st20_ckpt_")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = (
            stream.writeStream.foreachBatch(foreach_batch_acid_append(tbl))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _sh.rmtree(ckpt, ignore_errors=True)
    from gwasdb_spark.acid import AcidTable

    t = AcidTable(spark, tbl)
    n_commits = sum(
        1 for h in t.history() if h["op"].startswith("append(batch ")
    )
    return t.read().groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.lit(n_commits).cast("long").alias("n_batch_commits"),
    )


@query(
    "st23_stream_multi_table_sink",
    "X-stream,X-dml,X3",
    oracle="""
    SELECT 'gwas' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(4 AS BIGINT) AS n_batch_commits
    FROM events WHERE event_id % 5 <> 0
    UNION ALL
    SELECT 'no_gwas', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT),
           CAST(4 AS BIGINT)
    FROM events WHERE event_id % 5 = 0
    """,
)
def st23_stream_multi_table_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING QC split through the multi-table transaction — st20's
    exactly-once ACID sink generalized to the reference's real shape:
    ONE staging pass feeding TWO tables (gwas + no_gwas_result,
    R/wrangle_data.Rmd:365,376-381). Each micro-batch's survivors and
    rejects land through `MultiTableTxn.commit_appends` as ONE
    transaction with a stamped op ('qc_split(batch N)', Delta's
    txn-version pattern), and then THE WHOLE STREAM REPLAYS under a
    fresh checkpoint — worst-case at-least-once redelivery. The stamp
    check consults ONE table's history and the transaction's atomicity
    is what makes that sound: both tables carry batch N or neither
    does, so a single-table check can never skip a half-landed batch
    (with per-table commits this dedup pattern would be UNSOUND — the
    crash window between the two appends is exactly what m13's kill
    matrix pins). n_batch_commits (stamped qc ops in EACH log, both
    emitted) must still be 4 after the replay, and each table must
    aggregate to exactly its side of the split."""
    import hashlib as _hl
    import shutil as _sh
    import tempfile as _tf

    from gwasdb_spark.acid import AcidTable
    from gwasdb_spark.acid.multi_commit import MultiTableTxn

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:12]
    base = stage_dir(f"st23_multi_{tag}")
    feed = os.path.join(base, "feed")
    gp, np_ = os.path.join(base, "gwas"), os.path.join(base, "no_gwas")
    troot = os.path.join(base, "txn")
    e = table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    if not os.path.isdir(feed):
        e.repartition(4).write.parquet(feed)
    seed = spark.createDataFrame(
        [(-1, "seed", 0)], "event_id long, event_type string, cents long"
    )
    if AcidTable(spark, gp).latest_version() < 0:
        AcidTable.create(spark, gp, seed)
        AcidTable.create(spark, np_, seed)

    def _ingest(batch_df, batch_id):
        sp = batch_df.sparkSession
        g, n = AcidTable(sp, gp), AcidTable(sp, np_)
        opname = f"qc_split(batch {batch_id})"
        if any(h["op"] == opname for h in g.history()):
            # atomicity makes the single-log check sound; assert the
            # twin anyway so a broken invariant fails loudly here
            assert any(h["op"] == opname for h in n.history()), (
                "half-landed batch visible despite txn protocol"
            )
            return
        keep = batch_df.filter(F.col("event_id") % 5 != 0)
        drop = batch_df.filter(F.col("event_id") % 5 == 0)
        MultiTableTxn(sp, troot).commit_appends(
            [(g, keep), (n, drop)], op=opname
        )

    schema = spark.read.parquet(feed).schema
    for _run in range(2):  # run 2: full redelivery under a fresh ckpt
        ckpt = _tf.mkdtemp(prefix="st23_ckpt_")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = (
            stream.writeStream.foreachBatch(_ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _sh.rmtree(ckpt, ignore_errors=True)

    parts = []
    for name, path in (("gwas", gp), ("no_gwas", np_)):
        t = AcidTable(spark, path)
        n_commits = sum(
            1 for h in t.history() if h["op"].startswith("qc_split(batch ")
        )
        parts.append(
            t.read().filter(F.col("event_id") >= 0).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("sum_cents"),
            ).select(
                F.lit(name).alias("tbl"),
                "n_rows",
                "sum_cents",
                F.lit(n_commits).cast("long").alias("n_batch_commits"),
            )
        )
    return parts[0].unionByName(parts[1])


@query(
    "m10_cdc_replicate",
    "X-dml,X-stream",
    oracle="""
    WITH v0 AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey < 1000
    ),
    v1 AS (SELECT * FROM v0 WHERE NOT (l_quantity < 10)),
    v2 AS (
      SELECT l_orderkey, l_linenumber, l_quantity,
             CASE WHEN l_quantity > 40 THEN l_extendedprice * 2
                  ELSE l_extendedprice END AS l_extendedprice
      FROM v1
    ),
    v3 AS (
      SELECT * FROM v2
      UNION ALL
      SELECT -CAST(k AS BIGINT), 1, 1.0, 1.0 FROM range(1, 6) r(k)
    ),
    agg AS (
      SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS c
      FROM v0
      UNION ALL SELECT 1, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      FROM v1
      UNION ALL SELECT 2, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      FROM v2
      UNION ALL SELECT 3, CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      FROM v3
    )
    SELECT version, n AS src_rows, c AS src_cents,
           n AS rep_rows, c AS rep_cents,
           CAST(0 AS BIGINT) AS n_diff
    FROM agg
    """,
)
def m10_cdc_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replication end-to-end: the m03 source table's committed
    history is re-derived as a change feed FROM SNAPSHOTS ALONE
    (x158's exceptAll diffs — the consumer needs no knowledge of the
    original statements) and applied version-by-version to an
    independent REPLICA table via AcidTable.apply_changes (the APPLY
    CHANGES consumer: I/U upsert by key, D deletes, ONE pruned rewrite
    per batch bounded by the feed's key box; delete keys travel in a
    distributed anti-join, never through the driver). Every version's
    (rows, exact cents) must match on BOTH tables and the multiset
    diff must be empty — the oracle derives source numbers from the
    DML algebra and pins replica == source with literal zeros, so a
    replication drift of even one row breaks the hash. Update rows
    surface in the feed as remove+add pairs of the SAME key; the apply
    resolves them as upserts, which is why replica snapshots land
    row-identical, not just aggregate-identical. Resumable warm."""
    import hashlib as _hl

    from gwasdb_spark.acid import AcidTable

    src = _acid_dml_replay(
        spark,
        sf_dir,
        stage_dir(f"acid_m10src_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}"),
    )
    rep_path = stage_dir(
        f"acid_m10rep_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}"
    )
    rep = AcidTable(spark, rep_path)
    # snapshot-derived feeds carry no primary key, and the synthetic
    # lineitem slice has none ((l_orderkey, l_linenumber) repeats);
    # FULL ROWS are unique, so the apply keys on the whole tuple —
    # exact multiset semantics. With a declared PK the same
    # apply_changes call runs keyed on it instead.
    keys = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]
    if rep.latest_version() < 0:
        rep = AcidTable.create(spark, rep_path, src.read(0))
    for v in (1, 2, 3):
        if rep.latest_version() == v - 1:
            cur, prev = src.read(v), src.read(v - 1)
            added = cur.exceptAll(prev).withColumn("_op", F.lit("U"))
            # prev∖cur feeds BOTH the key derivation and the removed
            # rows — pin it lazily so the multiset diff (a full
            # two-snapshot shuffle) computes once per version, not
            # twice (r13, guide §2.4).
            rem_base = prev.exceptAll(cur).localCheckpoint(eager=False)
            rem_keys = (
                rem_base
                .select(*keys)
                .join(cur.select(*keys).distinct(), keys, "left_anti")
                .distinct()
            )
            removed = (
                rem_base
                .join(rem_keys, keys)
                .withColumn("_op", F.lit("D"))
            )
            rep.apply_changes(added.unionByName(removed), keys)
    parts = []
    for v in range(4):
        s, r = src.read(v), rep.read(v)
        cents = F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).cast("long")
        sa = s.agg(
            F.count(F.lit(1)).cast("long").alias("src_rows"),
            cents.alias("src_cents"),
        )
        ra = r.agg(
            F.count(F.lit(1)).cast("long").alias("rep_rows"),
            cents.alias("rep_cents"),
        )
        diff = (
            s.exceptAll(r).unionAll(r.exceptAll(s))
            .agg(F.count(F.lit(1)).cast("long").alias("n_diff"))
        )
        parts.append(
            sa.crossJoin(ra).crossJoin(diff).select(
                F.lit(v).cast("int").alias("version"),
                "src_rows", "src_cents", "rep_rows", "rep_cents", "n_diff",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "mm12_scene_changes",
    "X-multimodal",
    oracle="""
    WITH b AS (
      SELECT doc_id, f, i,
             (doc_id * 3 + (f // 5) * 37 + i) % 256 AS v
      FROM documents, range(0, 16) t1(f), range(0, 64) t2(i)
      WHERE doc_id % 8 = 0
    ),
    en AS (
      SELECT doc_id, f AS frame_idx, SUM(v) AS energy
      FROM b GROUP BY 1, 2
    ),
    d AS (
      SELECT doc_id, frame_idx, energy,
             LAG(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS pe
      FROM en
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(energy AS BIGINT) AS energy,
           (pe IS NULL OR abs(energy - pe) > 512) AS is_scene_change
    FROM d
    """,
)
def mm12_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe/scene-boundary selection over byte-level video frames
    (the video analogue of mm11's audio decode): every 8th document
    mints a 16-frame 1 KiB payload whose bytes follow a SQL-computable
    formula with a scene id baked in ((doc_id*3 + (f div 5)*37 + i)
    % 256 — scenes switch every 5 frames), frame_scene_changes
    computes each frame's exact byte-sum energy and flags frames whose
    delta to the previous frame exceeds the threshold. The oracle
    recomputes every energy from the generation formula and replays
    the detection rule, so frame split, byte decode, and the delta
    logic are all hash-adjudicated — including the honest edge that a
    wrapped byte base (~163-166 at a boundary) can legitimately fall
    under the threshold: the rule is adjudicated, not a hoped-for
    ground truth (multimodal/binary.py frame_scene_changes)."""
    from gwasdb_spark.multimodal.binary import frame_scene_changes

    d = table(spark, sf_dir, "documents")
    pix_hex = F.expr(
        "concat_ws('', transform(sequence(0, 1023), j -> "
        "lpad(hex((doc_id * 3 + (j div 320) * 37 + (j % 64)) % 256), "
        "2, '0')))"
    )
    vids = d.filter(F.col("doc_id") % 8 == 0).select(
        "doc_id",
        F.lit("video/raw").alias("media_type"),
        F.unhex(pix_hex).alias("payload"),
    )
    return frame_scene_changes(vids, frame_bytes=64, threshold=512)


@query(
    "x167_dp_noisy_counts",
    "X-privacy,A2",
    oracle="""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS true_count FROM documents
      GROUP BY lang
    ),
    u AS (
      SELECT lang, true_count,
             ROUND(CAST(CAST('0x' || substr(md5(lang || ':dp'), 1, 15)
                   AS BIGINT) AS DOUBLE) / 1152921504606846976.0, 9) AS u9
      FROM c
    ),
    n AS (
      SELECT lang, true_count,
             CASE WHEN u9 >= 0.5 THEN -1.0 ELSE 1.0 END
               * -10.0 * LN(ROUND(1.0 - 2.0 * abs(u9 - 0.5), 9)) AS noise
      FROM u
    )
    SELECT lang, true_count,
           ROUND(true_count + noise, 6) AS noisy_count,
           CAST(0.1 AS DOUBLE) AS epsilon
    FROM n
    """,
)
def x167_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release counts — the privacy gate a
    shared corpus-stats dashboard needs (pairs with x31's PII scrub and
    x81's k-anonymity): per-language counts + Laplace(1/epsilon) noise
    at epsilon = 0.1, sensitivity 1. The noise is SEEDED
    CONTENT-ADDRESSED (md5-uniform of the group key -> inverse-CDF
    Laplace), so the release is reproducible across engines and runs —
    the property an auditable DP pipeline needs (fresh randomness per
    query would compose privacy loss invisibly). Numeric discipline:
    the uniform quantizes to 9 dp BEFORE the ln (both engines feed libm
    the identical double — the g19 rule applied to the transcendental's
    INPUT), the ln argument is re-rounded the same way, and the output
    rounds to 6 dp. One aggregate, noise as a projection — the DP layer
    adds zero shuffles."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    u9 = F.round(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("lang"), F.lit(":dp")).cast("binary")),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(1152921504606846976.0),
        9,
    )
    noise = (
        F.when(u9 >= 0.5, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.lit(-10.0)
        * F.log(F.round(1.0 - 2.0 * F.abs(u9 - 0.5), 9))
    )
    return c.select(
        "lang",
        "true_count",
        F.round(F.col("true_count") + noise, 6).alias("noisy_count"),
        F.lit(0.1).cast("double").alias("epsilon"),
    )


@query(
    "g22_coloc_score",
    "X-gwas,A2",
    oracle="""
    WITH spine AS (
      SELECT ROW_NUMBER() OVER () - 1 AS id
      FROM lineitem, range(0, 4) t(k)
    ),
    assoc AS (
      SELECT id % 22 + 1 AS chr,
             CAST((1 + (id * 997) % 50000000) // 1000000 AS INT) AS bin,
             id AS variant_id,
             -LN(CAST((id * 2654435761) % 1000003 + 1 AS DOUBLE)
                 / 1000004.0) AS z1,
             0.05 + CAST((id * 7919) % 1000 AS DOUBLE) / 10000.0 AS se1,
             -LN(CAST((id * 1442695041) % 1000033 + 1 AS DOUBLE)
                 / 1000034.0) AS z2,
             0.05 + CAST((id * 104729) % 1000 AS DOUBLE) / 10000.0 AS se2
      FROM spine
    ),
    lead AS (
      SELECT chr, bin FROM assoc GROUP BY 1, 2
      HAVING MAX(z1) >= 5.0 AND MAX(z2) >= 5.0
    ),
    c1 AS (
      SELECT a.chr, a.bin, a.variant_id,
             ROUND(0.5 * LN(se1 * se1 / (se1 * se1 + 0.04))
                   + z1 * z1 / 2 * (0.04 / (se1 * se1 + 0.04)), 6) AS labf
      FROM assoc a JOIN lead USING (chr, bin) WHERE z1 >= 2.0
    ),
    c2 AS (
      SELECT a.chr, a.bin, a.variant_id,
             ROUND(0.5 * LN(se2 * se2 / (se2 * se2 + 0.04))
                   + z2 * z2 / 2 * (0.04 / (se2 * se2 + 0.04)), 6) AS labf
      FROM assoc a JOIN lead USING (chr, bin) WHERE z2 >= 2.0
    ),
    r1 AS (
      SELECT chr, bin, variant_id,
             CAST(ROUND(EXP(labf - MAX(labf) OVER (PARTITION BY chr, bin))
                  * 1e6) AS BIGINT) AS rel
      FROM c1
    ),
    r2 AS (
      SELECT chr, bin, variant_id,
             CAST(ROUND(EXP(labf - MAX(labf) OVER (PARTITION BY chr, bin))
                  * 1e6) AS BIGINT) AS rel
      FROM c2
    ),
    tot AS (
      SELECT r1.chr, r1.bin,
             (SELECT SUM(rel) FROM r1 x
              WHERE x.chr = r1.chr AND x.bin = r1.bin) AS t1,
             (SELECT SUM(rel) FROM r2 y
              WHERE y.chr = r1.chr AND y.bin = r1.bin) AS t2,
             CAST(COUNT(*) AS BIGINT) AS n_shared,
             SUM(r1.rel * r2.rel) AS s12
      FROM r1 JOIN r2 USING (chr, bin, variant_id)
      GROUP BY 1, 2
    )
    SELECT chr, bin, n_shared,
           ROUND(CAST(s12 AS DOUBLE) / (CAST(t1 AS DOUBLE) * t2), 9)
             AS coloc_score
    FROM tot WHERE t1 > 0 AND t2 > 0
    """,
)
def g22_coloc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-trait colocalization (coloc-lite, Giambartolomei 2014's H4
    kernel): for every 1 Mb locus where BOTH traits carry a lead
    (z >= 5), the probability-mass overlap of the two traits' Wakefield
    posteriors — sum_j p1j*p2j, computed as s12/(t1*t2) over g19's
    integer relative units. A score near 1 means one variant dominates
    both traits (shared causal signal); near 1/n means unrelated
    architectures. Numeric discipline is g19's with an overflow budget:
    units quantize at 1e6 (not nano) so the cross-trait PRODUCT sums
    (rel1*rel2 <= 1e12 per variant) and the t1*t2 denominator stay
    inside int64 at sf0.1 locus sizes; labf rounds to 6 dp before exp
    (the libm rule). Every window and aggregate is locus-partitioned.

    Physical shape (r13 optimization, guide §2.4 — share one exchange):
    both traits' rel-unit columns are computed IN ONE PASS over the
    candidate relation as conditional expressions (labf_t is NULL where
    z_t < 2), the per-trait normalizing max is a conditional window max
    over the same (chr, bin) partitioning, and t1/t2/n_shared/s12 all
    come from ONE locus-grain aggregate that reuses the window's
    exchange. The previous form materialized r1/r2 as separate
    relations, re-joined them at VARIANT grain, then joined three
    locus-grain aggregates back together — five exchanges and a
    variant-grain shuffle for numbers derivable in one pass from the
    same rows (null-conditional aggregates over identical per-row
    expressions ⇒ bit-identical sums; the n_shared >= 1 filter
    reproduces the old inner join's locus survivorship)."""
    n = 4 * table(spark, sf_dir, "lineitem").count()
    W = 0.04
    assoc = spark.range(n).select(
        (F.col("id") % 22 + 1).cast("int").alias("chr"),
        ((1 + (F.col("id") * 997) % 50000000) / 1000000)
        .cast("int")
        .alias("bin"),
        F.col("id").alias("variant_id"),
        (
            -F.log(
                ((F.col("id") * 2654435761) % 1000003 + 1).cast("double")
                / 1000004.0
            )
        ).alias("z1"),
        (0.05 + ((F.col("id") * 7919) % 1000).cast("double") / 10000.0).alias(
            "se1"
        ),
        (
            -F.log(
                ((F.col("id") * 1442695041) % 1000033 + 1).cast("double")
                / 1000034.0
            )
        ).alias("z2"),
        (
            0.05 + ((F.col("id") * 104729) % 1000).cast("double") / 10000.0
        ).alias("se2"),
    ).localCheckpoint(eager=False)  # feeds lead AND the candidate set
    lead = (
        assoc.groupBy("chr", "bin")
        .agg(F.max("z1").alias("m1"), F.max("z2").alias("m2"))
        .filter((F.col("m1") >= 5.0) & (F.col("m2") >= 5.0))
        .select("chr", "bin")
    )
    wl = Window.partitionBy("chr", "bin")

    def labf(zc: str, sec: str):
        """Per-row Wakefield log-ABF, NULL where the trait's z < 2 —
        the same rounded expression the split relations carried, so
        conditional max/sum over it are bit-equal to theirs."""
        se2_ = F.col(sec) * F.col(sec)
        return F.when(
            F.col(zc) >= 2.0,
            F.round(
                0.5 * F.log(se2_ / (se2_ + W))
                + F.col(zc) * F.col(zc) / 2 * (W / (se2_ + W)),
                6,
            ),
        )

    cand = assoc.join(lead, ["chr", "bin"]).select(
        "chr", "bin", "variant_id",
        labf("z1", "se1").alias("labf1"),
        labf("z2", "se2").alias("labf2"),
    )
    # max() skips NULLs, so the conditional window max equals the old
    # per-trait max over the z-filtered relation; rel stays NULL where
    # the trait does not qualify.
    rel_of = lambda c: F.when(  # noqa: E731
        F.col(c).isNotNull(),
        F.round(F.exp(F.col(c) - F.max(c).over(wl)) * 1e6).cast("long"),
    )
    scored = cand.select(
        "chr", "bin",
        rel_of("labf1").alias("rel1"),
        rel_of("labf2").alias("rel2"),
    )
    # decimal(38,0) moment sums: rel1*rel2 <= 1e12 per variant, but the
    # SUM of those products over a locus overflows int64 silently at
    # larger scale factors while DuckDB sums into HUGEINT (ADVICE r10).
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    both = F.col("rel1").isNotNull() & F.col("rel2").isNotNull()
    agg = scored.groupBy("chr", "bin").agg(
        F.sum(d38("rel1")).alias("t1"),
        F.sum(d38("rel2")).alias("t2"),
        F.count(F.when(both, F.lit(1))).cast("long").alias("n_shared"),
        F.sum(F.when(both, d38("rel1") * d38("rel2"))).alias("s12"),
    )
    return (
        # n_shared >= 1 reproduces the old r1⋈r2 inner join's locus
        # survivorship; t1/t2 > 0 is the old final filter verbatim.
        agg.filter(
            (F.col("n_shared") >= 1) & (F.col("t1") > 0) & (F.col("t2") > 0)
        )
        .select(
            "chr",
            "bin",
            "n_shared",
            F.round(
                F.col("s12").cast("double")
                / (F.col("t1").cast("double") * F.col("t2")),
                9,
            ).alias("coloc_score"),
        )
    )


@query(
    "s28_dpp_partition_join",
    "S-ext,J5",
    oracle="""
    WITH dim AS (
      SELECT lang FROM (SELECT DISTINCT lang FROM documents)
      WHERE CAST(CAST('0x' || substr(md5(lang), 1, 8) AS BIGINT) % 2
            AS INT) = 0
    )
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN dim USING (lang)
    GROUP BY d.lang
    """,
)
def s28_dpp_partition_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the join-driven form of s23's static
    pruning, and the mechanism that makes star-schema joins feasible at
    100 TB: the fact side is the lang-partitioned corpus layout, the
    dim side is a FILTERED language list whose qualifying values are
    only known at runtime (a content-addressed hash gate — no literal
    lang predicate exists for static pruning to use), and Catalyst
    plants a dynamicpruning subquery in the scan's PartitionFilters so
    only the dim-surviving partitions' files are ever listed or read.
    Plan-guarded in tests/test_plan_shape.py (the scan must carry a
    dynamicpruningexpression); the oracle is the plain join — DPP is
    purely a physical optimization and must not move a single row."""
    from gwasdb_spark.plans.helpers import stage_dir

    d = table(spark, sf_dir, "documents")
    path = stage_dir(
        f"corpus_by_lang_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    if not os.path.isdir(path):
        d.write.mode("overwrite").partitionBy("lang").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        d.select("lang").distinct()
        .filter(
            (
                F.conv(F.substring(F.md5(F.col("lang").cast("binary")), 1, 8),
                       16, 10).cast("long") % 2
            ).cast("int") == 0
        )
    )
    return (
        fact.join(F.broadcast(dim), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@query(
    "x169_cuped_ab_readout",
    "X-events,X-eval",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
                  1, 8) AS BIGINT) % 2 AS INT) AS arm,
             SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS pre,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS post
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(pre) AS sx, SUM(post) AS sy,
             SUM(pre * post) AS sxy, SUM(pre * pre) AS sxx
      FROM per_user
    ),
    theta AS (
      SELECT n, sx,
             CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                  ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                       / (n * sxx - sx * sx) END AS th,
             CAST(sx AS DOUBLE) / n AS mean_pre
      FROM pooled
    )
    SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(CAST(post AS DOUBLE)), 9) AS mean_post_cents,
           ROUND(AVG(post - th * (pre - mean_pre)), 9)
             AS mean_cuped_cents
    FROM per_user CROSS JOIN theta
    GROUP BY arm
    """,
)
def x169_cuped_ab_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013 —
    the adjustment every large experimentation platform applies before
    calling a winner): users split into two arms by a content-addressed
    hash (x16's discipline — assignment is reproducible and stable
    under corpus growth), the experiment-window purchase revenue is
    adjusted by each user's PRE-PERIOD revenue via theta =
    cov(pre, post)/var(pre) computed over the POOLED population (the
    standard CUPED estimator — pooling keeps theta assignment-
    independent). All moments are exact integer-cents sums (the g21
    regression discipline), theta and the means are single deterministic
    divisions, 9-dp round on output. Plan: one per-user aggregate, one
    5-long pooled aggregate broadcast as a 1-row relation, one per-arm
    aggregate — the adjustment adds zero extra shuffles over the naive
    readout."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cut = "2024-01-16 00:00:00"
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, cents).otherwise(0)).alias("pre"),
        F.sum(F.when(F.col("ts") >= cut, cents).otherwise(0)).alias("post"),
    ).select(
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"), F.lit(":ab")
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).cast("int").alias("arm"),
        "pre",
        "post",
    ).localCheckpoint(eager=False)  # feeds pooled moments AND arm agg
    # decimal(38,0) moments: cents*cents cross-products summed over the
    # whole population overflow int64 silently at larger scale factors
    # while the DuckDB oracle sums into HUGEINT (ADVICE r10).
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d38("pre")).alias("sx"),
        F.sum(d38("post")).alias("sy"),
        F.sum(d38("pre") * d38("post")).alias("sxy"),
        F.sum(d38("pre") * d38("pre")).alias("sxx"),
    )
    det = (
        F.col("n").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sx") * F.col("sx")
    )
    theta = pooled.select(
        F.when(det == 0, F.lit(0.0))
        .otherwise(
            (
                F.col("n").cast("decimal(38,0)") * F.col("sxy")
                - F.col("sx") * F.col("sy")
            )
            .cast("double")
            / det.cast("double")
        )
        .alias("th"),
        (F.col("sx").cast("double") / F.col("n")).alias("mean_pre"),
    )
    return (
        per_user.crossJoin(F.broadcast(theta))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.round(F.avg(F.col("post").cast("double")), 9).alias(
                "mean_post_cents"
            ),
            F.round(
                F.avg(
                    F.col("post")
                    - F.col("th") * (F.col("pre") - F.col("mean_pre"))
                ),
                9,
            ).alias("mean_cuped_cents"),
        )
    )


@query(
    "m11_acid_restore",
    "X-dml,M1",
    oracle="""
    WITH v0 AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey < 1000
    ),
    v1 AS (SELECT * FROM v0 WHERE NOT (l_quantity < 10)),
    v2 AS (
      SELECT l_orderkey, l_linenumber, l_quantity,
             CASE WHEN l_quantity > 40 THEN l_extendedprice * 2
                  ELSE l_extendedprice END AS l_extendedprice
      FROM v1
    ),
    v3 AS (
      SELECT * FROM v2
      UNION ALL
      SELECT -CAST(k AS BIGINT), 1, 1.0, 1.0 FROM range(1, 6) r(k)
    ),
    agg AS (
      SELECT 0 AS version, 'create' AS op, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS c
      FROM v0
      UNION ALL SELECT 1, 'delete', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      FROM v1
      UNION ALL SELECT 2, 'update', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      FROM v2
      UNION ALL SELECT 3, 'append', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      FROM v3
      UNION ALL SELECT 4, 'restore(1)', CAST(COUNT(*) AS BIGINT),
        CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      FROM v1
      UNION ALL SELECT 5, 'append', CAST(COUNT(*) AS BIGINT) + 5,
        CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        + 500
      FROM v1
    )
    SELECT version, op, n AS n_rows, c AS sum_cents FROM agg
    """,
)
def m11_acid_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TO VERSION made driver-checkable: after the m03 DML
    sequence (create/delete/update/append), `restore(1)` commits a
    metadata-only version whose snapshot must EQUAL v1 exactly — the
    bad update and append are rolled back without deleting them from
    history (v2/v3 stay time-travelable; the oracle pins v4 = v1's
    algebra and the 'restore(1)' op literal). A post-restore append
    (v5) then proves the table keeps evolving from the restored state
    (v1's rows + 5 sentinels), i.e. restore is a real writable branch
    point, not a read-only view. O(1) data IO: file groups are
    immutable and shared, so the rollback moves no bytes — the 100 TB
    incident-recovery path (acid/table_log.py restore). Resumable
    warm."""
    import hashlib as _hl

    t = _acid_dml_replay(
        spark,
        sf_dir,
        stage_dir(f"acid_m11_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}"),
    )
    if t.latest_version() == 3:
        t.restore(1)
    if t.latest_version() == 4:
        t.append(
            spark.createDataFrame(
                [(-100 - k, 1, 1.0, 1.0) for k in range(1, 6)],
                "l_orderkey long, l_linenumber int, l_quantity double, "
                "l_extendedprice double",
            )
        )
    hist = {h["version"]: h["op"] for h in t.history()}
    parts = []
    for v in range(6):
        parts.append(
            t.read(v).agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                .cast("long")
                .alias("sum_cents"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                F.lit(hist[v]).alias("op"),
                "n_rows",
                "sum_cents",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "x170_simhash_hamming_serve",
    "X-dedup,X-search",
    oracle="""
    WITH t AS (
      SELECT DISTINCT doc_id,
             CAST(CAST('0x' || substr(md5(token), 1, 15) AS BIGINT)
               AS BIGINT) AS h
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents
      ) WHERE token <> ''
    ),
    nb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1),
    bits AS (
      SELECT t.doc_id, CAST(p.i AS BIGINT) AS i,
             SUM((h >> CAST(p.i AS INT)) & 1) AS ones
      FROM t CROSS JOIN range(0, 60) p(i)
      GROUP BY 1, 2
    ),
    bands AS (
      SELECT bits.doc_id, CAST(i // 15 AS INT) AS band,
             CAST(SUM(CASE WHEN 2 * ones >= n THEN 1 ELSE 0 END
                      << CAST(i % 15 AS INT)) AS BIGINT) AS val
      FROM bits JOIN nb USING (doc_id)
      GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             MAX(CASE WHEN band = 0 THEN val END) AS b0,
             MAX(CASE WHEN band = 1 THEN val END) AS b1,
             MAX(CASE WHEN band = 2 THEN val END) AS b2,
             MAX(CASE WHEN band = 3 THEN val END) AS b3
      FROM bands GROUP BY 1
    ),
    probes AS (
      SELECT * FROM sig WHERE doc_id % 100 = 7
      ORDER BY doc_id LIMIT 5
    )
    SELECT p.doc_id AS probe_id, s.doc_id AS match_id,
           CAST(bit_count(xor(p.b0, s.b0)) + bit_count(xor(p.b1, s.b1))
                + bit_count(xor(p.b2, s.b2)) + bit_count(xor(p.b3, s.b3))
             AS BIGINT) AS hamming
    FROM probes p JOIN sig s ON s.doc_id <> p.doc_id
    WHERE bit_count(xor(p.b0, s.b0)) + bit_count(xor(p.b1, s.b1))
          + bit_count(xor(p.b2, s.b2)) + bit_count(xor(p.b3, s.b3)) <= 3
    """,
)
def x170_simhash_hamming_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash near-duplicate SERVING with an exactness guarantee the
    x04 pair scan cannot give a point lookup: each doc's 60-bit
    simhash (majority vote over distinct-token md5 bits — 60 bits =
    4 bands x 15, keeping every band shift far from the sign bit on
    both engines) splits into 4 bands, and a probe within Hamming
    distance <= 3 MUST agree exactly on at least one band
    (pigeonhole: 3 errors cannot touch 4 bands), so the serve path is
    4 equi-joins on (band, value) buckets + an exact bit_count(xor)
    verify over the O(collisions) candidates — provably COMPLETE for
    the radius, never a corpus scan per probe. The oracle is the
    brute-force probe x corpus Hamming join: hash equality proves the
    banded index loses nothing. Integer end-to-end (bit algebra only);
    at 100 TB the band index is the stored artifact and each lookup
    touches 4 hash buckets (x136's serving discipline for the
    Hamming metric)."""
    h60 = F.conv(
        F.substring(F.md5(F.col("token").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    d = table(spark, sf_dir, "documents")
    t = (
        d.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .select("doc_id", h60.alias("h"))
        .distinct()
    )
    # ONE doc-grain aggregate computes all 60 per-bit vote counters as
    # columns (r13, guide §2.3/§2.4): the old path crossJoined the
    # token-hash relation with a 60-row frame — 60x the shuffle rows —
    # then re-aggregated twice more ((doc,i) bits → (doc,band) vals →
    # pivot), four exchanges where two suffice. Same integer votes,
    # same majority rule, same band packing — bit-identical signatures.
    ones = [F.expr(f"SUM((h >> {i}) & 1)").alias(f"o{i}") for i in range(60)]
    per_doc = t.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"), *ones
    )

    def band_val(b: int):
        tot = None
        for j in range(15):
            i = b * 15 + j
            bit = F.expr(
                f"CAST(CASE WHEN 2 * o{i} >= n THEN {1 << j} "
                f"ELSE 0 END AS BIGINT)"
            )
            tot = bit if tot is None else tot + bit
        return tot.cast("long")

    sig = per_doc.select(
        "doc_id",
        band_val(0).alias("b0"),
        band_val(1).alias("b1"),
        band_val(2).alias("b2"),
        band_val(3).alias("b3"),
    ).localCheckpoint(eager=False)  # feeds probes, index, and verify
    probes = (
        sig.filter(F.col("doc_id") % 100 == 7)
        .orderBy("doc_id")
        .limit(5)
        .localCheckpoint(eager=True)  # 5 rows by contract
    )
    # banded index lookup: union of 4 (band, value) equi-joins
    cands = None
    for b in ("b0", "b1", "b2", "b3"):
        part = probes.select(
            F.col("doc_id").alias("probe_id"), F.col(b).alias("v")
        ).join(
            sig.select(F.col("doc_id").alias("match_id"), F.col(b).alias("v")),
            "v",
        ).select("probe_id", "match_id")
        cands = part if cands is None else cands.unionByName(part)
    cands = cands.filter(F.col("probe_id") != F.col("match_id")).distinct()
    ham = (
        F.bit_count(F.expr("pb0 ^ sb0"))
        + F.bit_count(F.expr("pb1 ^ sb1"))
        + F.bit_count(F.expr("pb2 ^ sb2"))
        + F.bit_count(F.expr("pb3 ^ sb3"))
    )
    p = probes.select(
        F.col("doc_id").alias("probe_id"),
        F.col("b0").alias("pb0"), F.col("b1").alias("pb1"),
        F.col("b2").alias("pb2"), F.col("b3").alias("pb3"),
    )
    s = sig.select(
        F.col("doc_id").alias("match_id"),
        F.col("b0").alias("sb0"), F.col("b1").alias("sb1"),
        F.col("b2").alias("sb2"), F.col("b3").alias("sb3"),
    )
    return (
        cands.join(F.broadcast(p), "probe_id")
        .join(s, "match_id")
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= 3)
        .select("probe_id", "match_id", "hamming")
    )


# ---------------------------------------------------------------------------
# Staged-query reset registry (bench.py cold-run discipline)
# ---------------------------------------------------------------------------
def m10_reset_stage(sf_dir: str) -> None:
    """Drop BOTH of m10's staged AcidTables (the replayed source and the
    CDC replica) so a timed run replays the source DML sequence AND the
    version-by-version apply_changes feed from scratch — warm, every
    guard is a read-only no-op and the row measures only snapshot
    aggregates (the exact m03 defect, one prefix away; ADVICE/VERDICT
    r10)."""
    import hashlib as _hl
    import shutil as _sh

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:12]
    _sh.rmtree(stage_dir(f"acid_m10src_{tag}"), ignore_errors=True)
    _sh.rmtree(stage_dir(f"acid_m10rep_{tag}"), ignore_errors=True)


def m11_reset_stage(sf_dir: str) -> None:
    """Drop m11's staged AcidTable so a timed run replays the DML chain,
    the restore commit, and the post-restore append cold."""
    import hashlib as _hl
    import shutil as _sh

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:12]
    _sh.rmtree(stage_dir(f"acid_m11_{tag}"), ignore_errors=True)


def m12_reset_stage(sf_dir: str) -> None:
    """Drop m12's staged AcidTable so a timed run replays the full
    create/rename/append/drop/update chain cold."""
    import hashlib as _hl
    import shutil as _sh

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:12]
    _sh.rmtree(stage_dir(f"acid_m12_{tag}"), ignore_errors=True)


def x158_reset_stage(sf_dir: str) -> None:
    """Drop x158's staged AcidTable so a timed run replays the DML chain
    before diffing snapshots (caught by the registry-coverage guard —
    warm, the row measured only the exceptAll diffs, not the commits)."""
    import hashlib as _hl
    import shutil as _sh

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:12]
    _sh.rmtree(stage_dir(f"acid_x158_{tag}"), ignore_errors=True)


def _m13_stage(sf_dir: str) -> str:
    import hashlib as _hl

    return stage_dir(f"acid_m13_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}")


def m13_reset_stage(sf_dir: str) -> None:
    """Drop m13's staged table pair + txn root so a timed run replays
    the create + two two-table transactions (one crash-injected and
    recovered), not a warm re-read."""
    import shutil as _sh

    _sh.rmtree(_m13_stage(sf_dir), ignore_errors=True)


def _m14_stage(sf_dir: str) -> str:
    import hashlib as _hl

    return stage_dir(f"acid_m14_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}")


def m14_reset_stage(sf_dir: str) -> None:
    """Drop m14's staged pair + txn root so a timed run replays the
    whole divergent-version history (create, two txns, the interleaved
    single-table correction, the recovered abort) cold."""
    import shutil as _sh

    _sh.rmtree(_m14_stage(sf_dir), ignore_errors=True)


# Explicit registry: query name -> cold-reset hook. bench.py iterates THIS
# (not a name-prefix match — `startswith("m0")` silently excluded m10/m11
# and would exclude any future staged query whose name doesn't happen to
# match; VERDICT r10 §wrong 2). Every staged-AcidTable query that would
# degrade to a warm no-op re-read MUST register here.
STAGED_RESETS: dict = {
    "m03_acid_timetravel": m03_reset_stage,
    "m04_acid_pruned_dml": m04_reset_stage,
    "m05_acid_cluster": m05_reset_stage,
    "m06_acid_bloom_skipping": m06_reset_stage,
    "m07_acid_check_constraints": m07_reset_stage,
    "m08_acid_schema_evolution": m08_reset_stage,
    "m09_acid_zorder": m09_reset_stage,
    "m10_cdc_replicate": m10_reset_stage,
    "m11_acid_restore": m11_reset_stage,
    "m12_acid_column_mapping": m12_reset_stage,
    "x158_acid_changefeed": x158_reset_stage,
    "m13_acid_multi_table": m13_reset_stage,
    "m14_acid_txn_snapshot": m14_reset_stage,
}


@query(
    "m12_acid_column_mapping",
    "X-dml,M4",
    oracle="""
    WITH v0 AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey < 1000
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS c
      FROM v0
    ),
    upd AS (
      SELECT CAST(SUM(CASE WHEN l_extendedprice >= 40
                      THEN CAST(round(l_extendedprice * 2 * 100) AS BIGINT)
                      ELSE CAST(round(l_extendedprice * 100) AS BIGINT)
                 END) AS BIGINT) AS c
      FROM v0
    )
    SELECT 0 AS version, 'create' AS op, s.n AS n_rows, s.c AS sum_cents,
           CAST(4 AS BIGINT) AS n_cols,
           'l_extendedprice,l_linenumber,l_orderkey,l_quantity' AS cols
    FROM s
    UNION ALL SELECT 1, 'rename_column(l_extendedprice->price)', s.n, s.c,
           4, 'l_linenumber,l_orderkey,l_quantity,price' FROM s
    UNION ALL SELECT 2, 'append', s.n + 5, s.c + 500,
           4, 'l_linenumber,l_orderkey,l_quantity,price' FROM s
    UNION ALL SELECT 3, 'drop_column(l_quantity)', s.n + 5, s.c + 500,
           3, 'l_linenumber,l_orderkey,price' FROM s
    UNION ALL SELECT 4, 'update(pruned 1/2)', s.n + 5, upd.c + 500,
           3, 'l_linenumber,l_orderkey,price' FROM s, upd
    """,
)
def m12_acid_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME/DROP COLUMN made driver-checkable — the
    schema-evolution surface m08 (ADD) left open, closing the Delta
    column-mapping parity gap (acid/table_log.py rename_column/
    drop_column): v0 create, v1 rename l_extendedprice->price
    (metadata-only — data files keep the physical name; reads alias it
    back in one free Project), v2 append under the NEW logical name
    (written physically as l_extendedprice so every group stays
    uniformly named), v3 drop l_quantity (metadata-only; bytes stay for
    time travel), v4 a sargable UPDATE on the RENAMED column whose
    stats re-key proves pruning survives the rename (the committed
    'pruned 1/2' op string is part of the oracle contract: the sentinel
    group's max price of 1.0 excludes it). Every version's (rows, exact
    cents, column list) is pinned by the oracle's DML algebra, so a
    read that null-fills, resurrects dropped bytes, or loses the alias
    breaks the hash. Resumable warm."""
    import hashlib as _hl

    from gwasdb_spark.acid import AcidTable
    from gwasdb_spark.acid import predicates as P

    base = stage_dir(f"acid_m12_{_hl.md5(sf_dir.encode()).hexdigest()[:12]}")
    t = AcidTable(spark, base)
    if t.latest_version() < 0:
        v0df = table(spark, sf_dir, "lineitem").filter(
            F.col("l_orderkey") < 1000
        ).select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
        )
        t = AcidTable.create(spark, base, v0df)
    if t.latest_version() == 0:
        t.rename_column("l_extendedprice", "price")
    if t.latest_version() == 1:
        t.append(
            spark.createDataFrame(
                [(-k, 1, 1.0, 1.0) for k in range(1, 6)],
                "l_orderkey long, l_linenumber int, l_quantity double, "
                "price double",
            )
        )
    if t.latest_version() == 2:
        t.drop_column("l_quantity")
    if t.latest_version() == 3:
        t.update_set(P.Ge("price", 40.0), {"price": F.col("price") * 2})
    hist = {h["version"]: h["op"] for h in t.history()}
    parts = []
    for v in range(5):
        snap = t.read(v)
        price_col = "price" if "price" in snap.columns else "l_extendedprice"
        parts.append(
            snap.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.round(F.col(price_col) * 100).cast("long"))
                .cast("long")
                .alias("sum_cents"),
            ).select(
                F.lit(v).cast("int").alias("version"),
                F.lit(hist[v]).alias("op"),
                "n_rows",
                "sum_cents",
                F.lit(len(snap.columns)).cast("long").alias("n_cols"),
                F.lit(",".join(sorted(snap.columns))).alias("cols"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "st21_stream_cdc_sequenced",
    "X-stream,X-dml",
    oracle="""
    WITH final AS (
      SELECT k,
             CASE
               WHEN k >= 200 THEN CAST(k AS DOUBLE)
               WHEN k % 5 = 0 THEN CAST(k*100 + (k%4)*10 + 1 AS DOUBLE)
               ELSE CAST(k*100 + (k%4)*10 AS DOUBLE)
             END AS v
      FROM range(0, 220) t(k)
      WHERE k >= 200 OR k % 3 <> 0 OR k % 5 = 0
    )
    SELECT CAST(k AS BIGINT) AS k, v,
           CAST(4 AS BIGINT) AS n_apply_commits
    FROM final
    """,
)
def st21_stream_cdc_sequenced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC consumer with SEQUENCE BY and exactly-once apply —
    st20's idempotent-sink discipline composed with m10's APPLY CHANGES
    and the round-11 sequencing semantics, end to end under Structured
    Streaming: a 4-file change feed (one batch per file,
    maxFilesPerTrigger=1) carries MULTIPLE ops per key per batch
    (every key gets a U at seq .0; keys %3==0 also a D at seq .1; keys
    %5==0 also a second U at seq .1 — so %15==0 keys exercise the
    exact-tie op-desc tiebreak), and foreachBatch applies each batch
    via AcidTable.apply_changes(sequence_by='seq') stamped with the
    batch id in the committed op string. The stream then runs a SECOND
    time under a fresh checkpoint — full redelivery — and the history
    check skips every already-applied batch, so the version count and
    the replica bytes are unchanged (exactly-once on top of
    at-least-once delivery, Delta's txn pattern). Batches touch
    disjoint keys (k%4==b), so the adjudicated final state is
    deterministic whatever order the file source lists the feed. The
    oracle derives the replica from the feed-generation algebra: a
    wrong tiebreak, a double-applied batch, or a delete-before-upsert
    ordering bug each lands on different rows."""
    import shutil as _sh
    import tempfile as _tf
    import glob as _glob
    import hashlib as _hl

    from gwasdb_spark.acid import AcidTable

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:12]
    base = stage_dir(f"st21_cdc_{tag}")
    feed = os.path.join(base, "feed")
    tbl = os.path.join(base, "table")

    if not os.path.isdir(feed):
        os.makedirs(feed, exist_ok=True)
        ks = spark.range(0, 200).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("int").alias("b"),
        )
        u0 = ks.select(
            "k",
            (F.col("k") * 100 + F.col("b") * 10).cast("double").alias("v"),
            F.lit("U").alias("_op"),
            (F.col("b") * 10).cast("int").alias("seq"),
            "b",
        )
        d1 = ks.filter(F.col("k") % 3 == 0).select(
            "k",
            F.lit(None).cast("double").alias("v"),
            F.lit("D").alias("_op"),
            (F.col("b") * 10 + 1).cast("int").alias("seq"),
            "b",
        )
        u1 = ks.filter(F.col("k") % 5 == 0).select(
            "k",
            (F.col("k") * 100 + F.col("b") * 10 + 1)
            .cast("double")
            .alias("v"),
            F.lit("U").alias("_op"),
            (F.col("b") * 10 + 1).cast("int").alias("seq"),
            "b",
        )
        allrows = u0.unionByName(d1).unionByName(u1)
        for b in range(4):
            tmp = _tf.mkdtemp(prefix="st21_feed_")
            allrows.filter(F.col("b") == b).repartition(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            _sh.move(part, os.path.join(feed, f"chg_{b}.parquet"))
            _sh.rmtree(tmp, ignore_errors=True)

    t = AcidTable(spark, tbl)
    if t.latest_version() < 0:
        t = AcidTable.create(
            spark,
            tbl,
            spark.range(0, 220).select(
                F.col("id").alias("k"),
                F.col("id").cast("double").alias("v"),
            ),
        )

    schema = spark.read.parquet(feed).schema

    def apply_batch(bdf, _bid):
        tt = AcidTable(spark, tbl)
        bids = sorted(
            r["b"] for r in bdf.select("b").distinct().collect()
        )  # 1 per micro-batch by construction (maxFilesPerTrigger=1)
        # pruned rewrites commit as "<op>(pruned k/n)" — match on the
        # batch-id PREFIX, exactly like st20 matches "append(batch "
        done = [h["op"] for h in tt.history()]
        for b in bids:
            opname = f"apply_changes(batch {b})"
            if any(o.startswith(opname) for o in done):
                continue  # redelivered batch: exactly-once skip
            tt.apply_changes(
                bdf.filter(F.col("b") == b).drop("b"),
                keys=["k"],
                sequence_by="seq",
                op=opname,
            )

    for _run in range(2):  # run 2: full redelivery under a fresh ckpt
        ckpt = _tf.mkdtemp(prefix="st21_ckpt_")
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _sh.rmtree(ckpt, ignore_errors=True)

    n_commits = sum(
        1
        for h in t.history()
        if h["op"].startswith("apply_changes(batch ")
    )
    return t.read().select(
        "k", "v", F.lit(n_commits).cast("long").alias("n_apply_commits")
    ).orderBy("k")


@query(
    "m13_acid_multi_table",
    "X-dml,M3,M4,X3",
    oracle="""
    WITH src AS (
      SELECT l_orderkey, l_linenumber, l_quantity,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             (l_quantity >= 5) AS pass,
             CASE WHEN l_orderkey < 500 THEN 0
                  WHEN l_orderkey < 1000 THEN 1 ELSE 2 END AS tranche
      FROM lineitem WHERE l_orderkey < 1500
    ),
    tv AS (
      SELECT t.tbl, v.version
      FROM (VALUES ('gwas'), ('no_gwas')) t(tbl)
      CROSS JOIN (VALUES (0), (1), (2)) v(version)
    ),
    agg AS (
      SELECT tv.tbl, CAST(tv.version AS INT) AS version,
             CAST(COUNT(src.l_orderkey) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM(src.cents), 0) AS BIGINT) AS sum_cents
      FROM tv LEFT JOIN src
        ON src.tranche <= tv.version
       AND ((tv.tbl = 'gwas' AND src.pass)
            OR (tv.tbl = 'no_gwas' AND NOT src.pass))
      GROUP BY 1, 2
    )
    SELECT tbl, version,
           CASE WHEN version = 0 THEN 'create' ELSE 'qc_split' END AS op,
           n_rows, sum_cents
    FROM agg
    UNION ALL
    SELECT 'audit', -1, 'split_overlap', 0, 0
    UNION ALL
    SELECT 'audit', -1, 'union_total',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM src),
           (SELECT CAST(COALESCE(SUM(cents),0) AS BIGINT) FROM src)
    """,
)
def m13_acid_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table ATOMIC commit (r12 verdict #3; acid/multi_commit.py):
    the reference's QC split inserts survivors into `gwas` AND rejects
    into `no_gwas_result` from ONE staging pass — one transaction
    (R/wrangle_data.Rmd:365,376-381). Here the stand-in split
    (l_quantity >= 5) lands on an AcidTable PAIR through MultiTableTxn:

    - v0: both tables created from tranche 0 (l_orderkey < 500).
    - v1: tranche 1 is first committed with an INJECTED CRASH after
      both manifests linked but BEFORE the commit marker (the sharpest
      pre-commit window: everything is on disk except the one atomic
      link) — both tables must still read their v0 states; recover()
      aborts the orphan; the tranche then lands cleanly.
    - v2: tranche 2's transaction crashes AFTER the marker but before
      intent cleanup — both tables are already committed (the marker
      IS the commit point); recover() merely finalizes.

    The oracle replays the whole split from lineitem and pins every
    (table, version) snapshot's (row count, cents sum) — so the hash
    breaks if an aborted tranche ever leaks into a snapshot, if either
    crash surfaces a HALF-committed state (one table at v1 while its
    twin reads v0 would shift that table's tranche membership one
    version early), or if recovery loses a committed one. Two audit
    rows pin the split invariants over the FINAL pair: zero
    (orderkey, linenumber) keys in both tables, and union == staging
    slice exactly (the reference's survivors+rejects partition).
    Resumable off latest_version like every staged m-row; op labels
    come from the LOG (history()), so a stray extra commit also breaks
    the hash. Versions stay aligned across the pair because the
    transaction is all-or-nothing — that alignment is itself part of
    what the per-version snapshot pins prove."""
    from gwasdb_spark.acid import AcidTable
    from gwasdb_spark.acid.multi_commit import InjectedCrash, MultiTableTxn

    base = _m13_stage(sf_dir)
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 1500
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    is_pass = F.col("l_quantity") >= 5

    def tranche(lo: int, hi: int):
        sl = li.filter(
            (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)
        )
        return sl.filter(is_pass), sl.filter(~is_pass)

    gwas = AcidTable(spark, os.path.join(base, "gwas"))
    nog = AcidTable(spark, os.path.join(base, "no_gwas"))
    txn = MultiTableTxn(spark, os.path.join(base, "txn"))

    if gwas.latest_version() < 0:
        keep0, drop0 = tranche(0, 500)
        gwas = AcidTable.create(spark, gwas.path, keep0)
        nog = AcidTable.create(spark, nog.path, drop0)
    if gwas.latest_version() == 0:
        keep1, drop1 = tranche(500, 1000)
        try:  # crash with both manifests linked, marker missing
            txn.commit_appends(
                [(gwas, keep1), (nog, drop1)],
                op="qc_split", failpoint="manifests",
            )
        except InjectedCrash:
            pass
        assert gwas.latest_version() == 0 and nog.latest_version() == 0, (
            "pre-marker crash surfaced a half-committed QC split"
        )
        txn.recover()
        txn.commit_appends([(gwas, keep1), (nog, drop1)], op="qc_split")
    if gwas.latest_version() == 1:
        keep2, drop2 = tranche(1000, 1500)
        try:  # crash after the marker: already committed
            txn.commit_appends(
                [(gwas, keep2), (nog, drop2)],
                op="qc_split", failpoint="marker",
            )
        except InjectedCrash:
            pass
        assert gwas.latest_version() == 2 and nog.latest_version() == 2, (
            "post-marker crash lost a committed transaction"
        )
    txn.recover()  # warm no-op; finalizes tranche 2's leftover intent

    parts = []
    for name, t in (("gwas", gwas), ("no_gwas", nog)):
        for h in t.history():  # every VISIBLE version — strays break it
            parts.append(
                t.read(h["version"]).agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.coalesce(
                        F.sum(
                            F.round(F.col("l_extendedprice") * 100)
                            .cast("long")
                        ),
                        F.lit(0),
                    ).cast("long").alias("sum_cents"),
                ).select(
                    F.lit(name).alias("tbl"),
                    F.lit(h["version"]).cast("int").alias("version"),
                    F.lit(h["op"]).alias("op"),
                    "n_rows",
                    "sum_cents",
                )
            )
    g_fin, n_fin = gwas.read(), nog.read()
    # Full QC identity as the key: the synthetic lineitem is NOT unique
    # on (orderkey, linenumber) — 178 such keys at sf0.01 carry rows on
    # both sides of the quantity rule, so the disjointness the split
    # guarantees (and a half-replayed commit would break by
    # double-landing rows) is per ROW, quantity included.
    key = ["l_orderkey", "l_linenumber", "l_quantity"]
    overlap = g_fin.select(*key).join(n_fin.select(*key), key).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.lit(0).cast("long").alias("sum_cents"),
    ).select(
        F.lit("audit").alias("tbl"),
        F.lit(-1).cast("int").alias("version"),
        F.lit("split_overlap").alias("op"),
        "n_rows", "sum_cents",
    )
    union_total = g_fin.unionByName(n_fin).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).cast("long").alias("sum_cents"),
    ).select(
        F.lit("audit").alias("tbl"),
        F.lit(-1).cast("int").alias("version"),
        F.lit("union_total").alias("op"),
        "n_rows", "sum_cents",
    )
    out = parts[0]
    for p in parts[1:] + [overlap, union_total]:
        out = out.unionByName(p)
    return out


@query(
    "m14_acid_txn_snapshot",
    "X-dml,M3,X3",
    oracle="""
    WITH src AS (
      SELECT l_orderkey, l_linenumber, l_quantity,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             (l_quantity >= 5) AS pass,
             CASE WHEN l_orderkey < 500 THEN 0
                  WHEN l_orderkey < 1000 THEN 1 ELSE 2 END AS tranche
      FROM lineitem WHERE l_orderkey < 1500
    ),
    cut AS (
      SELECT 'cut' AS sect, 1 AS seq, 'gwas' AS tbl, 1 AS version,
             'qc_split' AS op, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM(cents),0) AS BIGINT) AS sum_cents
      FROM src WHERE pass AND tranche <= 1
      UNION ALL
      SELECT 'cut', 1, 'no_gwas', 1, 'qc_split',
             CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(cents),0) AS BIGINT)
      FROM src WHERE NOT pass AND tranche <= 1
      UNION ALL
      SELECT 'cut', 2, 'gwas', 3, 'qc_split',
             CAST(COUNT(*) + 7 AS BIGINT),
             CAST(COALESCE(SUM(cents),0) + 1400 AS BIGINT)
      FROM src WHERE pass
      UNION ALL
      SELECT 'cut', 2, 'no_gwas', 2, 'qc_split',
             CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(cents),0) AS BIGINT)
      FROM src WHERE NOT pass
    ),
    feed AS (
      SELECT 'feed' AS sect, 1 AS seq, 'gwas' AS tbl, 1 AS version,
             'qc_split' AS op, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM(cents),0) AS BIGINT) AS sum_cents
      FROM src WHERE pass AND tranche = 1
      UNION ALL
      SELECT 'feed', 1, 'no_gwas', 1, 'qc_split',
             CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(cents),0) AS BIGINT)
      FROM src WHERE NOT pass AND tranche = 1
      UNION ALL
      SELECT 'feed', 2, 'gwas', 3, 'qc_split',
             CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(cents),0) AS BIGINT)
      FROM src WHERE pass AND tranche = 2
      UNION ALL
      SELECT 'feed', 2, 'no_gwas', 2, 'qc_split',
             CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(cents),0) AS BIGINT)
      FROM src WHERE NOT pass AND tranche = 2
    )
    SELECT * FROM cut
    UNION ALL SELECT * FROM feed
    UNION ALL SELECT 'audit', -1, 'txn_root', -1, 'n_committed_txns',
                     CAST(2 AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL SELECT 'audit', -1, 'gwas', -1, 'tip_version',
                     CAST(3 AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL SELECT 'audit', -1, 'no_gwas', -1, 'tip_version',
                     CAST(2 AS BIGINT), CAST(0 AS BIGINT)
    """,
)
def m14_acid_txn_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Txn-consistent multi-table READS — the read-side counterpart to
    m13's atomic commit (acid/multi_commit.py committed_txns /
    txn_snapshot). The reference reads its QC split back as one
    consistent pair because Postgres gives every statement a snapshot
    across BOTH tables (R/postgres_process.Rmd:80-109); AcidTable logs
    are per-table, so 'the split as of staging pass N' needs the cut
    the transaction itself recorded (each manifest carries its txn id).

    The staged history makes the naive same-version-number cut WRONG on
    purpose: after txn A (both tables v1), a single-table 'correction'
    append lands on gwas ONLY (gwas v2, no_gwas still v1), then txn B
    commits (gwas v3, no_gwas v2) — the pair's version counters
    diverge, exactly what interleaved single-table writers produce in
    real use. A final replay of tranche 2 crashes at the manifest1
    failpoint and is recovered, proving aborts leave no trace in either
    the feed or the tips.

    Adjudicated: for each committed txn, txn_snapshot's cut read of
    BOTH tables (full snapshot counts + exact cents — a cut that
    misaligns by one version shifts a whole tranche or leaks/misses the
    correction batch); the txn-stamped changefeed (rows each txn added
    per table via multiset version-diff, all-or-nothing per txn — the
    aborted replay would surface here as a third txn or a phantom
    diff); and audit rows pinning n_committed_txns and both tips
    (an abort that left a visible version moves a tip). committed_txns
    ordering is part of the contract: seq is assigned by feed order, so
    a wrong order swaps tranche 1 and 2's pinned aggregates. Cold runs
    replay the full history (STAGED_RESETS); warm re-runs resume off
    the logs, metadata-only plus the bounded re-aggregations."""
    from gwasdb_spark.acid import AcidTable
    from gwasdb_spark.acid.multi_commit import InjectedCrash, MultiTableTxn

    base = _m14_stage(sf_dir)
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 1500
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    is_pass = F.col("l_quantity") >= 5

    def tranche(lo: int, hi: int):
        sl = li.filter(
            (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)
        )
        return sl.filter(is_pass), sl.filter(~is_pass)

    gwas = AcidTable(spark, os.path.join(base, "gwas"))
    nog = AcidTable(spark, os.path.join(base, "no_gwas"))
    txn = MultiTableTxn(spark, os.path.join(base, "txn"))

    if gwas.latest_version() < 0:
        keep0, drop0 = tranche(0, 500)
        gwas = AcidTable.create(spark, gwas.path, keep0)
        nog = AcidTable.create(spark, nog.path, drop0)
    if gwas.latest_version() == 0:
        keep1, drop1 = tranche(500, 1000)
        txn.commit_appends([(gwas, keep1), (nog, drop1)], op="qc_split")
    if gwas.latest_version() == 1:
        # single-table write BETWEEN the transactions: the pair's
        # version counters diverge from here on
        gwas.append(
            spark.createDataFrame(
                [(-k, 9, 9.0, 2.0) for k in range(1, 8)],
                "l_orderkey long, l_linenumber int, l_quantity double, "
                "l_extendedprice double",
            ),
            op="correction",
        )
    if gwas.latest_version() == 2:
        keep2, drop2 = tranche(1000, 1500)
        txn.commit_appends([(gwas, keep2), (nog, drop2)], op="qc_split")
    abort_flag = os.path.join(base, "_abort_replayed")
    if gwas.latest_version() == 3 and not os.path.exists(abort_flag):
        keep2, drop2 = tranche(1000, 1500)
        try:  # crash with one manifest linked; recover() must abort it
            txn.commit_appends(
                [(gwas, keep2), (nog, drop2)],
                op="qc_split", failpoint="manifest1",
            )
        except InjectedCrash:
            pass
        txn.recover()
        with open(abort_flag, "w") as fh:
            fh.write("1")

    pair = [gwas, nog]
    names = {gwas.path: "gwas", nog.path: "no_gwas"}
    feed = txn.committed_txns(pair)
    cents = F.coalesce(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
        F.lit(0),
    ).cast("long")
    parts = []
    for seq, entry in enumerate(feed, start=1):
        cut = txn.txn_snapshot(pair, entry["id"])
        for t in pair:
            v = cut[t.path]
            op = t._manifest(v)["op"]
            parts.append(
                t.read(v).agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    cents.alias("sum_cents"),
                ).select(
                    F.lit("cut").alias("sect"),
                    F.lit(seq).cast("int").alias("seq"),
                    F.lit(names[t.path]).alias("tbl"),
                    F.lit(v).cast("int").alias("version"),
                    F.lit(op).alias("op"),
                    "n_rows", "sum_cents",
                )
            )
            added = t.read(v).exceptAll(t.read(v - 1))
            parts.append(
                added.agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    cents.alias("sum_cents"),
                ).select(
                    F.lit("feed").alias("sect"),
                    F.lit(seq).cast("int").alias("seq"),
                    F.lit(names[t.path]).alias("tbl"),
                    F.lit(v).cast("int").alias("version"),
                    F.lit(op).alias("op"),
                    "n_rows", "sum_cents",
                )
            )
    audits = [
        ("txn_root", "n_committed_txns", len(feed)),
        ("gwas", "tip_version", gwas.latest_version()),
        ("no_gwas", "tip_version", nog.latest_version()),
    ]
    for tbl, op, val in audits:
        parts.append(
            spark.range(1).select(
                F.lit("audit").alias("sect"),
                F.lit(-1).cast("int").alias("seq"),
                F.lit(tbl).alias("tbl"),
                F.lit(-1).cast("int").alias("version"),
                F.lit(op).alias("op"),
                F.lit(val).cast("long").alias("n_rows"),
                F.lit(0).cast("long").alias("sum_cents"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
