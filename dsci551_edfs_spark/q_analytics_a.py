"""Time-decay analytics, graph similarity, privacy/audit long tail (round-10 session 3, part A).

Split from the original monolithic queries.py (round 13) —
verbatim section move, zero behavior change; registration
still lands in the shared QUERIES/ORACLES dicts via @q.
"""

from __future__ import annotations

from .queries_base import DD, F, TXT, Window, _t, q
from .q_pipeline import (
    _LANG_CASE,
    _SHINGLES_SQL,
    _TOKENS_SQL,
    _lang_score_sql,
    _minhash_base_ctes,
)
from .q_media_temporal import _hll_own_sql
from .q_quality_mixture import _BG_SQL
from .q_layout_round5 import _STRONG_EDGES_SQL, _strong_copurchase_edges

@q(
    "ewma_event_rate",
    """
    WITH d AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
             count(*) AS cnt
      FROM events GROUP BY 1, 2)
    SELECT a.event_type,
           CAST(a.day_num AS BIGINT) AS day_num,
           CAST(a.cnt AS BIGINT) AS cnt,
           CAST(sum(b.cnt * (CAST(1 AS BIGINT)
                             << (29 - CAST(a.day_num - b.day_num AS INT))))
                AS BIGINT) AS ewma_num
    FROM d a JOIN d b ON a.event_type = b.event_type
         AND b.day_num BETWEEN a.day_num - 29 AND a.day_num
    GROUP BY 1, 2, 3
    """,
)
def ewma_event_rate(spark, sf_dir):
    """Per-type EWMA of daily event rates (half-life 1 day, 30-day
    truncation) in EXACT dyadic-rational integer arithmetic — zero FP,
    so the hash is engine/partitioning-independent; the real EWMA is
    ewma_num/2^29, one driver-side shift away. The raw scan collapses
    first through a map-side-combinable groupBy(type, day); the 30-term
    weighted window is an equi-join + range filter over that
    calendar-sized aggregate (operators/temporal.py:ewma_daily_counts —
    see its docstring for the 2^33-events/key/day exactness headroom)."""
    from .operators.temporal import ewma_daily_counts

    ev = _t(spark, sf_dir, "events")
    return ewma_daily_counts(ev, key_col="event_type", ts_col="ts")


def _neighbor_jaccard_oracle_sql() -> str:
    """DuckDB restatement of `graph.neighbor_jaccard` over the strong
    co-purchase graph: full-graph degrees, hub-capped postings (deg ≤
    256), pair counts through the shared-neighbor self-join, integer
    Jaccard threshold 3·common ≥ uni."""
    return f"""
    WITH {_STRONG_EDGES_SQL},
    adj AS (SELECT DISTINCT u, v FROM (
              SELECT x AS u, y AS v FROM e UNION ALL SELECT y, x FROM e)),
    deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY 1),
    p AS (SELECT a.v, a.u FROM adj a
          JOIN deg d ON d.u = a.v WHERE d.deg <= 256),
    c AS (SELECT p1.u AS ua, p2.u AS ub, count(*) AS common
          FROM p p1 JOIN p p2 ON p1.v = p2.v AND p1.u < p2.u
          GROUP BY 1, 2
          HAVING count(*) >= 2)
    SELECT c.ua, c.ub, CAST(c.common AS BIGINT) AS common,
           CAST(da.deg + db.deg - c.common AS BIGINT) AS uni
    FROM c JOIN deg da ON da.u = c.ua JOIN deg db ON db.u = c.ub
    WHERE 3 * c.common >= (da.deg + db.deg - c.common)
    """


@q("neighbor_jaccard_pairs", _neighbor_jaccard_oracle_sql(), memo=True)
def neighbor_jaccard_pairs(spark, sf_dir):
    """Structural substitutes in the strong co-purchase graph: part
    pairs whose neighborhoods overlap with Jaccard ≥ 1/3 (and ≥2 shared
    neighbors) — the link-prediction / "customers who bought X also
    bought Y" signal, computed without the parts ever meeting unless
    they share a neighbor (operators/graph.py:neighbor_jaccard —
    inverted-index pair expansion in codegen, hub neighbors with degree
    > 256 dropped from postings as the quadratic-hazard cap, exact
    integer (common, uni) output so the hash is FP-free). Edge input is
    the shared per-corpus memo `_strong_copurchase_edges`."""
    from .operators.graph import neighbor_jaccard

    return neighbor_jaccard(
        _strong_copurchase_edges(spark, sf_dir), "pa", "pb"
    )


@q(
    "prefix_filter_jaccard_pairs",
    f"""
    WITH s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)),
    tokset AS (SELECT doc_id, unnest(sh) AS token FROM s),
    sz AS (SELECT doc_id, count(*) AS sz FROM tokset GROUP BY 1),
    c AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
          FROM tokset a JOIN tokset b
            ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT ia AS id_a, ib AS id_b, CAST(inter AS BIGINT) AS inter,
           CAST(sa.sz + sb.sz - inter AS BIGINT) AS uni
    FROM c JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
    WHERE 3 * inter >= sa.sz + sb.sz
    """,
    memo=True,
)
def prefix_filter_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram-shingle Jaccard ≥ 1/2 pairs via PREFIX FILTERING —
    candidates from each doc's rarest-⌊|A|/2⌋+1 shingles only, lossless
    (pipeline/dedup.py:prefix_filter_jaccard_pairs). The oracle is a
    FULL inverted-index join that never mentions prefixes, so the two
    independent algorithms must agree pair-for-pair — a real correctness
    proof of the candidate rule, not a restatement. Shingle arrays come
    from the per-corpus `shared_text_layout.shingle_sets` memo
    (optimization r14): no tokenize scan per query."""
    from .sources.shared_text_layout import shingle_sets

    d = _t(spark, sf_dir, "documents")
    return DD.prefix_filter_jaccard_pairs(
        d, shingled=shingle_sets(spark, sf_dir)
    )


def _merge_chain_ctes(
    pfx: str, n_merges: int, criterion: str, max_vocab: int = 50000
) -> str:
    """Prefixed merge-loop CTE chain (shared by the fertility oracle):
    the `_bpe_train_oracle_sql` sentinel-string machinery, ending at
    state{n_merges} (the trainer's FINAL symbolization), with the merge
    argmax chosen by ``criterion`` ('count' = BPE, 'ratio' = WordPiece).
    All CTE names carry ``pfx`` so two chains coexist in one statement."""
    sy = (
        "list_transform(list_filter(string_split(enc, chr(2)), "
        "s -> s <> ''), s -> s[2:])"
    )
    parts = [
        f"""{pfx}words AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_TOKENS_SQL}) AS w FROM documents)
      WHERE length(w) >= 2 GROUP BY w
      ORDER BY cnt DESC, w LIMIT {max_vocab}
    ), {pfx}state0 AS MATERIALIZED (
      SELECT w, cnt,
             array_to_string(list_transform(string_split(w, ''),
                             c -> chr(1) || c || chr(2)), '') AS enc
      FROM {pfx}words
    )"""
    ]
    for k in range(n_merges):
        if criterion == "count":
            best = f"""{pfx}best{k} AS MATERIALIZED (
      SELECT pr[1] AS a, pr[2] AS b
      FROM (SELECT cnt, unnest(list_zip(sy, sy[2:])) AS pr
            FROM (SELECT cnt, {sy} AS sy FROM {pfx}state{k}))
      WHERE pr[2] IS NOT NULL GROUP BY 1, 2
      ORDER BY sum(cnt) DESC, a, b LIMIT 1
    )"""
        else:
            best = f"""{pfx}sy{k} AS MATERIALIZED (
      SELECT cnt, {sy} AS sy FROM {pfx}state{k}
    ), {pfx}units{k} AS MATERIALIZED (
      SELECT u, sum(cnt) AS uc FROM (
        SELECT cnt, unnest(sy) AS u FROM {pfx}sy{k}) GROUP BY 1
    ), {pfx}best{k} AS MATERIALIZED (
      SELECT p.a, p.b
      FROM (SELECT pr[1] AS a, pr[2] AS b, sum(cnt) AS c
            FROM (SELECT cnt, unnest(list_zip(sy, sy[2:])) AS pr
                  FROM {pfx}sy{k})
            WHERE pr[2] IS NOT NULL GROUP BY 1, 2) p
      JOIN {pfx}units{k} ua ON ua.u = p.a
      JOIN {pfx}units{k} ub ON ub.u = p.b
      ORDER BY p.c * 1.0 / (ua.uc * ub.uc) DESC, p.a, p.b LIMIT 1
    )"""
        parts.append(", " + best)
        parts.append(
            f""", {pfx}state{k + 1} AS MATERIALIZED (
      SELECT w, cnt,
             replace(enc,
                     chr(1) || (SELECT a FROM {pfx}best{k}) || chr(2)
                       || chr(1) || (SELECT b FROM {pfx}best{k}) || chr(2),
                     chr(1) || (SELECT a || b FROM {pfx}best{k}) || chr(2))
               AS enc
      FROM {pfx}state{k}
    )"""
        )
    parts.append(
        f""", {pfx}total AS (
      SELECT CAST(sum(cnt * len({sy})) AS BIGINT) AS pieces,
             CAST(sum(cnt) AS BIGINT) AS words_w
      FROM {pfx}state{n_merges} WHERE length(w) <= 12
    )"""
    )
    return "".join(parts)


@q(
    "subword_fertility_report",
    "WITH "
    + _merge_chain_ctes("b_", 40, "count")
    + ", "
    + _merge_chain_ctes("w_", 30, "ratio")
    + """
    SELECT 'bpe40' AS family, pieces, words_w,
           CAST((1000 * pieces) // words_w AS BIGINT) AS pieces_per_kword
    FROM b_total
    UNION ALL
    SELECT 'wordpiece30', pieces, words_w,
           CAST((1000 * pieces) // words_w AS BIGINT)
    FROM w_total
    """,
)
def subword_fertility_report(spark, sf_dir):
    """Head-to-head tokenizer fertility: train BPE (40 count-argmax
    merges) and WordPiece (30 likelihood-ratio merges) on the corpus,
    segment the SAME 2-12-char vocabulary with each trainer's final
    state, and report frequency-weighted pieces-per-kiloword — the
    metric tokenizer teams actually compare families with. Spark
    segments via the greedy-by-rank encoder (`bpe_segment_vocab` —
    provably equivalent to sequential merge replay: a merge never
    creates adjacency between two pre-existing symbols, so lower-rank
    opportunities cannot reappear); the oracle replays both merge
    chains as prefixed materialized-CTE states in ONE statement. Both
    trainings are one corpus pass + vocab-sized driver loops."""
    from concurrent.futures import ThreadPoolExecutor

    d = _t(spark, sf_dir, "documents")
    # the two trainings are independent vocab-sized driver loops over
    # their own corpus pass — overlap them (optimization r13, guide
    # §2.6: each loop's bounded jobs leave executors idle; the second
    # training back-fills them). Results are deterministic merge lists.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_bpe = pool.submit(
            lambda: [r["merged"] for r in TXT.bpe_train_merges(d, 40).collect()]
        )
        f_wp = pool.submit(
            lambda: [
                r["merged"]
                for r in TXT.wordpiece_train_merges(d, 30).collect()
            ]
        )
        bpe, wp = f_bpe.result(), f_wp.result()
    # the SAME top-50k-by-frequency domain the trainers (and the
    # oracle's state chains) operate on, then the 2-12-char report band
    words = (
        d.select(F.explode(TXT.tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), "w")
        .limit(50_000)
        .filter(F.length("w") <= 12)
    ).localCheckpoint(eager=False)
    rows = []
    for fam, merges in (("bpe40", bpe), ("wordpiece30", wp)):
        seg = TXT.bpe_segment_vocab(words, merges, token_col="w")
        tot = (
            seg.join(words.select(F.col("w").alias("token"), "freq"), "token")
            .agg(
                F.sum(F.col("freq") * F.col("n_pieces"))
                .cast("long")
                .alias("pieces"),
                F.sum("freq").cast("long").alias("words_w"),
            )
            .select(
                F.lit(fam).alias("family"),
                "pieces",
                "words_w",
                F.expr("(1000 * pieces) div words_w")
                .cast("long")
                .alias("pieces_per_kword"),
            )
        )
        rows.append(tot)
    return rows[0].unionByName(rows[1])


@q(
    "sequence_pattern_match",
    """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             CASE event_type WHEN 'signup' THEN 's' WHEN 'click' THEN 'c'
                             WHEN 'purchase' THEN 'p' WHEN 'view' THEN 'v'
                             ELSE 'x' END AS sym
      FROM events),
    seq AS (
      SELECT user_id,
             string_agg(sym, '' ORDER BY ts_s, event_id) AS s
      FROM e GROUP BY 1)
    SELECT user_id,
           CAST(length(s) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(s, 'sc*p')) AS BIGINT)
             AS n_funnel_matches,
           CAST(len(regexp_extract_all(s, 'pp')) AS BIGINT)
             AS n_repeat_purchases,
           CAST(CASE WHEN regexp_matches(s, 'sc{3,}p') THEN 1 ELSE 0 END
                AS BIGINT) AS has_long_consideration
    FROM seq
    """,
)
def sequence_pattern_match(spark, sf_dir):
    """MATCH_RECOGNIZE-style sequence pattern analytics without the SQL
    extension: each user's event history collapses to an ordered symbol
    string (one char per event type), and the patterns — signup→
    clicks*→purchase funnels, back-to-back purchases, long-
    consideration paths — run as plain regexes over that string. One
    user-keyed aggregate (sort_array of (ts, id, sym) structs, concat —
    never a window), regex in codegen; per-user strings are bounded by
    per-user history, the same per-key bound sessionize lives with.
    Non-overlapping match counts: Java and RE2 agree on these
    possessive-free patterns."""
    ev = _t(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "view", "v")
        .otherwise("x")
    )
    e = ev.select(
        "user_id",
        F.struct(
            F.col("ts").cast("long").alias("t"),
            F.col("event_id").alias("i"),
            sym.alias("y"),
        ).alias("k"),
    )
    seq = e.groupBy("user_id").agg(
        F.concat_ws(
            "", F.expr("transform(sort_array(collect_list(k)), x -> x.y)")
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        F.size(F.expr("regexp_extract_all(s, 'sc*p', 0)"))
        .cast("long")
        .alias("n_funnel_matches"),
        F.size(F.expr("regexp_extract_all(s, 'pp', 0)"))
        .cast("long")
        .alias("n_repeat_purchases"),
        F.expr("case when s rlike 'sc{3,}p' then 1 else 0 end")
        .cast("long")
        .alias("has_long_consideration"),
    )


@q(
    "clamped_balance",
    """
    WITH d AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  WHEN event_type = 'click'
                  THEN -CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END AS delta
      FROM events),
    c0 AS (
      SELECT user_id, ts_s, event_id,
             sum(delta) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM d),
    c AS (
      SELECT user_id, s,
             min(s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_s DESC, event_id DESC) AS rn
      FROM c0)
    SELECT user_id,
           CAST(s AS BIGINT) AS raw_sum_cents,
           CAST(s - least(CAST(0 AS BIGINT), mn) AS BIGINT)
             AS clamped_balance_cents,
           CAST(-least(CAST(0 AS BIGINT), mn) AS BIGINT)
             AS total_clamped_cents
    FROM c WHERE rn = 1
    """,
)
def clamped_balance(spark, sf_dir):
    """Running balance CLAMPED at zero (credits on purchases, debits on
    clicks; an account can't go negative) — the classic non-associative
    fold SQL "can't" do... except via the reflected-walk closed form:
    clamped(t) = S(t) − min(0, min_{k≤t} S(k)), which is exact for a
    single lower clamp at 0 and turns the sequential dependency into
    two stacked windows on ONE user-keyed shuffle (same exchange-reuse
    shape as sessionize). Exact cents; last row per user reported."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(
        "user_id",
        F.col("ts").cast("long").alias("ts_s"),
        "event_id",
        F.when(F.col("event_type") == "purchase", cents)
        .when(F.col("event_type") == "click", -cents)
        .otherwise(F.lit(0).cast("long"))
        .alias("delta"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_s").desc(), F.col("event_id").desc())
    )
    c = (
        d.withColumn("s", F.sum("delta").over(w))
        .withColumn("mn", F.min("s").over(w))
        .withColumn("rn", F.row_number().over(wd))
    )
    z = F.lit(0).cast("long")
    return c.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("s").cast("long").alias("raw_sum_cents"),
        (F.col("s") - F.least(z, F.col("mn")))
        .cast("long")
        .alias("clamped_balance_cents"),
        (-F.least(z, F.col("mn")))
        .cast("long")
        .alias("total_clamped_cents"),
    )


def _ulm_fertility_oracle() -> str:
    from .pipeline.unigram_lm import unigram_lm_oracle_sql

    return unigram_lm_oracle_sql(totals=True)


@q("unigram_lm_fertility", _ulm_fertility_oracle())
def unigram_lm_fertility(spark, sf_dir):
    """The unigram-LM row of the subword-family fertility comparison
    (`subword_fertility_report` carries BPE/WordPiece): corpus-weighted
    Viterbi pieces-per-kiloword over the 2-12-char band, derived from
    the same verified lattice as `unigram_lm_top_pieces`
    (pipeline/unigram_lm.py:unigram_lm_fertility)."""
    from .pipeline.unigram_lm import unigram_lm_fertility as _f

    return _f(_t(spark, sf_dir, "documents"))


@q(
    "ohlc_hourly",
    """
    WITH e AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    g AS (
      SELECT event_type, hour,
             min(struct_pack(t := ts_s, i := event_id, c := cents)) AS o,
             max(struct_pack(t := ts_s, i := event_id, c := cents)) AS c,
             max(cents) AS high, min(cents) AS low,
             count(*) AS n, sum(cents) AS vsum
      FROM e GROUP BY 1, 2)
    SELECT event_type, hour,
           CAST((o).c AS BIGINT) AS open_cents,
           CAST(high AS BIGINT) AS high_cents,
           CAST(low AS BIGINT) AS low_cents,
           CAST((c).c AS BIGINT) AS close_cents,
           CAST(n AS BIGINT) AS n_events,
           CAST(vsum AS BIGINT) AS sum_cents
    FROM g
    """,
)
def ohlc_hourly(spark, sf_dir):
    """OHLC candlestick bars per (event type, hour) — the time-series
    downsampling shape every metrics/finance store serves. Open/close
    are the first/last value by (ts, event_id) — computed as ONE
    min/max over (ts, id, value) structs inside the same
    map-side-combinable aggregate as high/low/volume, so there is NO
    window, NO sort, and ties are deterministic. Values frozen to
    exact cents."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("ts").cast("long").alias("ts_s"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    key = F.struct(
        F.col("ts_s").alias("t"), F.col("event_id").alias("i"),
        F.col("cents").alias("c"),
    )
    g = e.groupBy("event_type", "hour").agg(
        F.min(key).alias("o"),
        F.max(key).alias("cl"),
        F.max("cents").alias("high"),
        F.min("cents").alias("low"),
        F.count("*").alias("n"),
        F.sum("cents").alias("vsum"),
    )
    return g.select(
        "event_type",
        "hour",
        F.col("o.c").cast("long").alias("open_cents"),
        F.col("high").cast("long").alias("high_cents"),
        F.col("low").cast("long").alias("low_cents"),
        F.col("cl.c").cast("long").alias("close_cents"),
        F.col("n").cast("long").alias("n_events"),
        F.col("vsum").cast("long").alias("sum_cents"),
    )


@q(
    "session_entry_exit",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events),
    m AS (
      SELECT user_id, event_id, event_type, ts_s,
             CASE WHEN lag(ts_s) OVER w IS NULL
                       OR ts_s - lag(ts_s) OVER w > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
    s AS (
      SELECT user_id, event_id, event_type, ts_s,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS session_no
      FROM m),
    g AS (
      SELECT user_id, session_no,
             min(struct_pack(t := ts_s, i := event_id, e := event_type))
               AS fe,
             max(struct_pack(t := ts_s, i := event_id, e := event_type))
               AS le,
             count(*) AS n
      FROM s GROUP BY 1, 2),
    x AS (SELECT (fe).e AS entry_type, (le).e AS exit_type,
                 CASE WHEN n = 1 THEN 1 ELSE 0 END AS bounce
          FROM g)
    SELECT entry_type, exit_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(bounce) AS BIGINT) AS n_bounces
    FROM x GROUP BY 1, 2
    """,
)
def session_entry_exit(spark, sf_dir):
    """Entry/exit-page analytics over 30-minute sessions: which event
    type opens and closes each session, and the single-event bounce
    count per (entry, exit) pair — the web-analytics staple. Rides the
    house sessionize shape (two stacked windows on ONE user-keyed
    shuffle), then first/last via min/max over (ts, id, type) structs
    in a map-side-combinable aggregate — no per-session sort."""
    from .operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("long").alias("ts_s"),
    )
    sess = sessionize(
        e.withColumn("ts", F.col("ts_s")), gap_s=1800, ts_col="ts"
    )
    s = e.join(sess.select("event_id", "session_no"), "event_id")
    key = F.struct(
        F.col("ts_s").alias("t"),
        F.col("event_id").alias("i"),
        F.col("event_type").alias("e"),
    )
    g = s.groupBy("user_id", "session_no").agg(
        F.min(key).alias("fe"), F.max(key).alias("le"), F.count("*").alias("n")
    )
    return (
        g.select(
            F.col("fe.e").alias("entry_type"),
            F.col("le.e").alias("exit_type"),
            F.when(F.col("n") == 1, 1).otherwise(0).alias("bounce"),
        )
        .groupBy("entry_type", "exit_type")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("bounce").cast("long").alias("n_bounces"),
        )
    )


@q(
    "dp_noisy_counts",
    """
    WITH g AS (SELECT c_nationkey, count(*) AS true_count
               FROM customer GROUP BY 1),
    u AS (SELECT c_nationkey, true_count,
                 (CAST('0x' || substring(md5('dp1:' ||
                        CAST(c_nationkey AS VARCHAR)), 1, 13) AS BIGINT)
                  + 1) / 4503599627370497.0 AS u1,
                 (CAST('0x' || substring(md5('dp2:' ||
                        CAST(c_nationkey AS VARCHAR)), 1, 13) AS BIGINT)
                  + 1) / 4503599627370497.0 AS u2
          FROM g)
    SELECT c_nationkey, CAST(true_count AS BIGINT) AS true_count,
           CAST(floor(-ln(u1)) - floor(-ln(u2)) AS BIGINT) AS noise,
           CAST(true_count + floor(-ln(u1)) - floor(-ln(u2)) AS BIGINT)
             AS dp_count
    FROM u
    """,
)
def dp_noisy_counts(spark, sf_dir):
    """ε=1 differentially-private group counts via the two-sided
    geometric (discrete Laplace) mechanism: noise = G₁ − G₂ with
    Gᵢ = ⌊−ln(uᵢ)⌋, the exact inverse-CDF construction for
    Geometric(1−e^(−ε)). The uniforms are md5-SEEDED per group key —
    the reproducible-test harness every DP pipeline runs its
    distribution checks with; a production release swaps the seeded
    generator for secure per-release randomness and NOTHING else
    changes (same mechanism, same post-processing). True counts ride
    along so the calibration is visible. One map-side-combinable
    groupBy + a codegen noise projection at any scale."""
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("true_count")
    )
    den = float((1 << 52) + 1)

    def _u(salt: str):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(salt), F.col("c_nationkey").cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        return (h + 1) / F.lit(den)

    noise = F.floor(-F.log(_u("dp1:"))) - F.floor(-F.log(_u("dp2:")))
    return g.select(
        "c_nationkey",
        "true_count",
        noise.cast("long").alias("noise"),
        (F.col("true_count") + noise).cast("long").alias("dp_count"),
    )


def _weak_label_oracle_sql() -> str:
    lang_scores = ", ".join(
        f"{_lang_score_sql(lang, sw)} AS s_{lang}"
        for lang, sw in sorted(TXT.LANG_STOPWORDS.items())
    )
    best = "greatest(" + ", ".join(
        f"s_{lang}" for lang in sorted(TXT.LANG_STOPWORDS)
    ) + ")"
    return f"""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END
                  AS BIGINT) AS n_tokens,
             round(length(text) / greatest(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END,
                   1), 3) AS avg_token_len,
             round(len(regexp_extract_all(text, '[^\\w\\s]'))
                   / greatest(length(text), 1), 3) AS punct_ratio,
             round(len(regexp_extract_all(text, '[0-9]'))
                   / greatest(length(text), 1), 3) AS digit_ratio,
             {lang_scores}
      FROM documents),
    v AS (
      SELECT doc_id,
             CASE WHEN n_tokens >= 10 AND punct_ratio <= 0.20
                       AND digit_ratio <= 0.30
                       AND avg_token_len BETWEEN 2.0 AND 12.0 THEN 1
                  WHEN n_tokens < 5 OR punct_ratio > 0.30 THEN -1
                  ELSE 0 END AS v_q,
             CASE WHEN {best} = 0 THEN 0
                  WHEN (CASE {_LANG_CASE} ELSE 'und' END) = lang THEN 1
                  ELSE -1 END AS v_lang,
             CASE WHEN n_tokens BETWEEN 10 AND 100 THEN 1
                  WHEN n_tokens < 3 THEN -1 ELSE 0 END AS v_len
      FROM (SELECT f.*, {best} AS best FROM f)),
    m AS (
      SELECT 'q|lang' AS pair, v_q AS va, v_lang AS vb FROM v
      UNION ALL SELECT 'q|len', v_q, v_len FROM v
      UNION ALL SELECT 'lang|len', v_lang, v_len FROM v)
    SELECT pair,
           CAST(sum(CASE WHEN va <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cov_a,
           CAST(sum(CASE WHEN vb <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cov_b,
           CAST(sum(CASE WHEN va <> 0 AND vb <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_both,
           CAST(sum(CASE WHEN va <> 0 AND va = vb THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           CAST(sum(CASE WHEN va * vb = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_conflict
    FROM m GROUP BY 1
    """


@q("weak_label_matrix", _weak_label_oracle_sql())
def weak_label_matrix(spark, sf_dir):
    """Weak-supervision diagnostics (the Snorkel labeling-function
    matrix): three heuristic LFs vote {+1, −1, abstain} per doc —
    rule-gate quality, stopword-evidence language agreement, length
    band — and the output is the pairwise coverage/overlap/agreement/
    conflict table a label-model developer reads before trusting the
    denoised labels. One projection computes all votes, the 3 LF pairs
    melt through a stack, one 3-key aggregate — a single corpus scan
    whatever the LF count."""
    d = _t(spark, sf_dir, "documents")
    stats = TXT.text_stats(d)
    pred = TXT.lang_id(d)
    base = (
        stats.join(pred, "doc_id")
        .join(d.select("doc_id", "lang"), "doc_id")
    )
    v_q = (
        F.when(
            (F.col("n_tokens") >= 10)
            & (F.col("punct_ratio") <= 0.20)
            & (F.col("digit_ratio") <= 0.30)
            & (F.col("avg_token_len") >= 2.0)
            & (F.col("avg_token_len") <= 12.0),
            1,
        )
        .when((F.col("n_tokens") < 5) | (F.col("punct_ratio") > 0.30), -1)
        .otherwise(0)
    )
    v_lang = (
        F.when(F.col("lang_pred") == "und", 0)
        .when(F.col("lang_pred") == F.col("lang"), 1)
        .otherwise(-1)
    )
    v_len = (
        F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 100), 1)
        .when(F.col("n_tokens") < 3, -1)
        .otherwise(0)
    )
    votes = base.select(
        v_q.alias("v_q"), v_lang.alias("v_lang"), v_len.alias("v_len")
    )
    m = votes.select(
        F.expr(
            "stack(3, 'q|lang', v_q, v_lang, 'q|len', v_q, v_len, "
            "'lang|len', v_lang, v_len) as (pair, va, vb)"
        )
    )
    return m.groupBy("pair").agg(
        F.sum((F.col("va") != 0).cast("long")).cast("long").alias("cov_a"),
        F.sum((F.col("vb") != 0).cast("long")).cast("long").alias("cov_b"),
        F.sum(((F.col("va") != 0) & (F.col("vb") != 0)).cast("long"))
        .cast("long")
        .alias("n_both"),
        F.sum(((F.col("va") != 0) & (F.col("va") == F.col("vb"))).cast("long"))
        .cast("long")
        .alias("n_agree"),
        F.sum((F.col("va") * F.col("vb") == -1).cast("long"))
        .cast("long")
        .alias("n_conflict"),
    )


@q(
    "exact_median_two_pass",
    """
    WITH n AS (SELECT count(*) AS nt FROM orders),
    r AS (SELECT o_totalprice,
                 row_number() OVER (ORDER BY o_totalprice) AS rn
          FROM orders)
    SELECT o_totalprice AS median_price,
           (SELECT CAST(nt AS BIGINT) FROM n) AS n_rows
    FROM r WHERE rn = ((SELECT nt FROM n) + 1) // 2
    """,
)
def exact_median_two_pass(spark, sf_dir):
    """EXACT global median WITHOUT a global sort — the two-pass
    histogram-refinement algorithm a 100 TB median actually needs
    (a naive exact median = one global sort; approx_percentile gives
    up exactness):

    pass 1: map-side-combinable 1024-bin histogram + total count → the
    driver locates the single bin containing rank ⌈n/2⌉ from ≤1024
    integers (a bounded collect);
    pass 2: scan again FILTERED to that bin (predicate-pushed), and
    TakeOrderedAndProject the within-bin rank — per-partition heaps of
    at most the in-bin offset, never a global sort.

    The oracle computes the same order statistic the lazy way
    (row_number over a full sort) — algorithm-independent. Median
    contract: the rank-⌈n/2⌉ element ascending (lower middle)."""
    o = _t(spark, sf_dir, "orders")
    lohi = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    ).first()
    if lohi["lo"] is None:  # empty table: no median, keep the schema
        return spark.range(0).select(
            F.lit(None).cast("double").alias("median_price"),
            F.lit(None).cast("long").alias("n_rows"),
        )
    lo, hi = float(lohi["lo"]), float(lohi["hi"])
    width = (hi - lo) / 1024 or 1.0
    # ONE bin expression shared by both passes — a reconstructed
    # [lo + b*width, lo + (b+1)*width) range can disagree with
    # floor((p - lo)/width) at FP bin boundaries, silently shifting the
    # in-bin rank offset. Filtering pass 2 with the identical expression
    # makes the histogram and the membership predicate agree by
    # construction.
    bin_expr = F.least(
        F.floor((F.col("o_totalprice") - lo) / width).cast("int"),
        F.lit(1023),
    )
    hist = (
        o.groupBy(bin_expr.alias("bin"))
        .agg(F.count("*").alias("cnt"))
        .collect()  # <= 1024 rows: bounded by construction
    )
    counts = {r["bin"]: r["cnt"] for r in hist}
    n = sum(counts.values())
    target = (n + 1) // 2
    cum = 0
    tbin, below = 1023, cum
    for b in range(1024):
        c = counts.get(b, 0)
        if cum + c >= target:
            tbin, below = b, cum
            break
        cum += c
    k = target - below
    # The exactness predicate is bin_expr == tbin; the widened plain
    # range (one bin of slack each side) is redundant with it but IS
    # parquet-pushable, so row-group pruning still fires at scale.
    in_bin = o.filter(
        (F.col("o_totalprice") >= lo + (tbin - 1) * width)
        & (F.col("o_totalprice") <= lo + (tbin + 2) * width)
        & (bin_expr == tbin)
    )
    # TakeOrdered k rows within the bin; the k-th IS the median
    med = (
        in_bin.select("o_totalprice")
        .orderBy("o_totalprice")
        .limit(int(k))
        .agg(F.max("o_totalprice").alias("median_price"))
    )
    return med.select(
        "median_price", F.lit(int(n)).cast("long").alias("n_rows")
    )


@q(
    "doc_perplexity_sb3",
    rf"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    tg0 AS (SELECT doc_id,
                   unnest(toks[1 : len(toks) - 2]) AS w1,
                   unnest(toks[2 : len(toks) - 1]) AS w2,
                   unnest(toks[3 : len(toks)]) AS w3
            FROM t WHERE len(toks) >= 3),
    bg0 AS (SELECT doc_id,
                   unnest(toks[1 : len(toks) - 1]) AS w1,
                   unnest(toks[2 : len(toks)]) AS w2
            FROM t WHERE len(toks) >= 2),
    un0 AS (SELECT doc_id, unnest(toks) AS w FROM t),
    c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg0
           WHERE doc_id % 5 <> 0 GROUP BY 1, 2, 3),
    c2x AS (SELECT w1, w2, count(*) AS c2ctx FROM tg0
            WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
    lm3 AS (SELECT w1, w2, w3,
                   CAST(round(ln(c3.c3 * 1.0 / c2x.c2ctx) * 1000000)
                        AS BIGINT) AS lp3
            FROM c3 JOIN c2x USING (w1, w2)),
    b2 AS (SELECT w1, w2, count(*) AS c2 FROM bg0
           WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
    b1 AS (SELECT w1, count(*) AS c1ctx FROM bg0
           WHERE doc_id % 5 <> 0 GROUP BY 1),
    lm2 AS (SELECT b2.w1 AS w2, b2.w2 AS w3,
                   CAST(round(ln(c2 * 1.0 / c1ctx) * 1000000) AS BIGINT)
                     + (-916291) AS lp2
            FROM b2 JOIN b1 USING (w1)),
    u1 AS (SELECT w, count(*) AS c1 FROM un0
           WHERE doc_id % 5 <> 0 GROUP BY 1),
    tt AS (SELECT count(*) AS t FROM un0 WHERE doc_id % 5 <> 0),
    lm1 AS (SELECT w AS w3,
                   CAST(round(ln(c1 * 1.0 / (SELECT t FROM tt)) * 1000000)
                        AS BIGINT) + (-1832582) AS lp1
            FROM u1),
    sc AS (SELECT g.doc_id,
                  coalesce(l3.lp3, l2.lp2, l1.lp1, -13815511) AS lp,
                  CASE WHEN l3.lp3 IS NOT NULL THEN 'tri'
                       WHEN l2.lp2 IS NOT NULL THEN 'bi'
                       WHEN l1.lp1 IS NOT NULL THEN 'uni'
                       ELSE 'oov' END AS br
           FROM (SELECT * FROM tg0 WHERE doc_id % 5 = 0) g
           LEFT JOIN lm3 l3 ON l3.w1 = g.w1 AND l3.w2 = g.w2
                           AND l3.w3 = g.w3
           LEFT JOIN lm2 l2 ON l2.w2 = g.w2 AND l2.w3 = g.w3
           LEFT JOIN lm1 l1 ON l1.w3 = g.w3),
    a AS (SELECT doc_id, count(*) AS n_trigrams,
                 sum(CASE WHEN br = 'tri' THEN 1 ELSE 0 END) AS n_tri,
                 sum(CASE WHEN br = 'bi' THEN 1 ELSE 0 END) AS n_bi,
                 sum(CASE WHEN br = 'uni' THEN 1 ELSE 0 END) AS n_uni,
                 sum(CASE WHEN br = 'oov' THEN 1 ELSE 0 END) AS n_oov,
                 sum(lp) AS micro
          FROM sc GROUP BY 1)
    SELECT doc_id, CAST(n_trigrams AS BIGINT) AS n_trigrams,
           CAST(n_tri AS BIGINT) AS n_tri_hits,
           CAST(n_bi AS BIGINT) AS n_bi_backoffs,
           CAST(n_uni AS BIGINT) AS n_uni_backoffs,
           CAST(n_oov AS BIGINT) AS n_oov,
           round(-micro / 1000000.0 / n_trigrams, 6) AS avg_neg_logp,
           round(exp(round(-micro / 1000000.0 / n_trigrams, 6)), 3) AS ppl
    FROM a
    """,
)
def doc_perplexity_sb3(spark, sf_dir):
    """Stupid Backoff TRIGRAM perplexity (Brants et al. 2007 — the
    web-scale recipe: fixed 0.4 backoff, no normalization, which is why
    it trains where Kneser-Ney can't): trigram → bigram → unigram →
    OOV-floor cascade, every branch an integer micro-nat
    (pipeline/lm.py:trigram_sb_perplexity). Strictly more signal than
    `doc_perplexity_lm`'s bigram MLE — the branch-usage counters in the
    output show exactly how often each backoff fires, the diagnostic a
    corpus-quality pipeline watches. Three tiny count tables broadcast;
    the corpus side is one trigram explode."""
    from .pipeline import lm as LM

    docs = _t(spark, sf_dir, "documents")
    return LM.trigram_sb_perplexity(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
    )


def _wordpiece_train_oracle_sql(
    n_merges: int = 30, max_vocab: int = 50000
) -> str:
    """The WordPiece merge loop UNROLLED (the `_bpe_train_oracle_sql`
    sentinel-string machinery with the likelihood-ratio argmax): each
    round also aggregates UNIT counts and ranks pairs by
    c/(uc_a·uc_b) — equal rationals yield identical IEEE doubles, so
    the ORDER BY is engine-stable; ties break (a, b) asc."""
    sy = (
        "list_transform(list_filter(string_split(enc, chr(2)), "
        "s -> s <> ''), s -> s[2:])"
    )
    parts = [
        f"""WITH words AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_TOKENS_SQL}) AS w FROM documents)
      WHERE length(w) >= 2 GROUP BY w
      ORDER BY cnt DESC, w LIMIT {max_vocab}
    ), state0 AS MATERIALIZED (
      SELECT w, cnt,
             array_to_string(list_transform(string_split(w, ''),
                             c -> chr(1) || c || chr(2)), '') AS enc
      FROM words
    )"""
    ]
    for k in range(n_merges):
        parts.append(
            f""", sy{k} AS MATERIALIZED (
      SELECT cnt, {sy} AS sy FROM state{k}
    ), units{k} AS MATERIALIZED (
      SELECT u, sum(cnt) AS uc FROM (
        SELECT cnt, unnest(sy) AS u FROM sy{k}) GROUP BY 1
    ), best{k} AS MATERIALIZED (
      SELECT p.a, p.b, p.c, ua.uc AS ua, ub.uc AS ub
      FROM (SELECT pr[1] AS a, pr[2] AS b, sum(cnt) AS c
            FROM (SELECT cnt, unnest(list_zip(sy, sy[2:])) AS pr
                  FROM sy{k})
            WHERE pr[2] IS NOT NULL GROUP BY 1, 2) p
      JOIN units{k} ua ON ua.u = p.a
      JOIN units{k} ub ON ub.u = p.b
      ORDER BY p.c * 1.0 / (ua.uc * ub.uc) DESC, p.a, p.b LIMIT 1
    )"""
        )
        if k < n_merges - 1:
            parts.append(
                f""", state{k + 1} AS MATERIALIZED (
      SELECT w, cnt,
             replace(enc,
                     chr(1) || (SELECT a FROM best{k}) || chr(2)
                       || chr(1) || (SELECT b FROM best{k}) || chr(2),
                     chr(1) || (SELECT a || b FROM best{k}) || chr(2))
               AS enc
      FROM state{k}
    )"""
            )
    union = "\nUNION ALL ".join(
        f"SELECT {k} AS rank, a AS left, b AS right, a || b AS merged, "
        f"CAST(c AS BIGINT) AS pair_count, CAST(ua AS BIGINT) AS ua_count, "
        f"CAST(ub AS BIGINT) AS ub_count FROM best{k}"
        for k in range(n_merges)
    )
    return "".join(parts) + "\n" + union + "\nORDER BY rank"


@q("wordpiece_train_merges", _wordpiece_train_oracle_sql())
def wordpiece_train_merges_q(spark, sf_dir):
    """WordPiece tokenizer training (the BERT trainer) — completes the
    subword-family triad: BPE (count argmax, `bpe_train_merges`),
    unigram-LM (Viterbi likelihood, `unigram_lm_top_pieces`), WordPiece
    (likelihood-ratio argmax, this). One distributed corpus pass builds
    the word table; the 30-round merge loop is vocab-sized driver work
    (functions/text.py:wordpiece_train_merges). All-integer output rows
    (pair + unit counts); the oracle unrolls the identical loop with
    materialized per-round CTEs."""
    return TXT.wordpiece_train_merges(_t(spark, sf_dir, "documents"))


@q(
    "deloop_docs",
    r"""
    WITH tok AS (
      SELECT doc_id, toks[CAST(i AS INT)] AS token, CAST(i AS INT) AS pos
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS toks
            FROM documents),
           generate_series(1, 4096) s(i)
      WHERE i <= len(toks)),
    m AS (
      SELECT doc_id, token, pos,
             lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM tok)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN token = prev THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           md5(string_agg(CASE WHEN prev IS NULL OR token <> prev
                               THEN token END, ' ' ORDER BY pos))
             AS deloop_md5
    FROM m GROUP BY 1
    """,
)
def deloop_docs(spark, sf_dir):
    """De-looping: drop immediately-repeated tokens ("the the", stutter
    loops — the classic crawl/OCR artifact and a standard quality
    transform before training). Pure codegen: one filtered array fold
    per doc (no per-token shuffle — the doc's token array never leaves
    its row), emitting the de-looped text fingerprint plus drop counts.
    The oracle takes the WINDOW formulation (lag over position) —
    an independent restatement of the same contract."""
    d = _t(spark, sf_dir, "documents")
    toks = TXT.tokens(F.col("text"))
    # keep token i iff i == 0 or toks[i] != toks[i-1]: zip the token
    # array against its 1-shifted self (null-padded head), keep where
    # different — all inside the row, pure codegen
    kept = (
        "transform(filter(zip_with(t, concat(array(cast(null as string)), "
        "slice(t, 1, size(t) - 1)), (cur, prev) -> "
        "struct(cur, (prev is null or cur != prev) as keep)), "
        "s -> s.keep), s -> s.cur)"
    )
    return (
        d.select("doc_id", toks.alias("t"))
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.expr(kept).alias("kept_toks"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.size("kept_toks"))
            .cast("long")
            .alias("n_dropped"),
            F.md5(F.concat_ws(" ", "kept_toks")).alias("deloop_md5"),
        )
    )


_CMS_BUCKET_1024_SQL = """
    ((strpos('0123456789abcdef', substring({m}, 1, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substring({m}, 2, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substring({m}, 3, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substring({m}, 4, 1)) - 1)) % 1024
"""


@q(
    "join_size_estimate_cms",
    f"""
    WITH ex AS (
      SELECT CAST(l_partkey AS VARCHAR) AS v, r
      FROM lineitem, generate_series(0, 3) t(r)),
    c AS (SELECT r,
                 {_CMS_BUCKET_1024_SQL.format(
                     m="substring(md5(v), 1 + 4 * r, 4)")} AS b,
                 count(*) AS cnt
          FROM ex GROUP BY 1, 2),
    ip AS (SELECT r, sum(cnt * cnt) AS est FROM c GROUP BY 1),
    exact AS (SELECT sum(cnt * cnt) AS x FROM (
                SELECT count(*) AS cnt FROM lineitem GROUP BY l_partkey))
    SELECT CAST(r AS BIGINT) AS sketch_row,
           CAST(est AS BIGINT) AS est_join_size,
           CAST(x AS BIGINT) AS exact_join_size
    FROM ip, exact
    """,
)
def join_size_estimate_cms(spark, sf_dir):
    """Join-cardinality estimation from count-min sketches (the
    AGMS/CMS inner-product estimator every cost-based optimizer variant
    uses): |lineitem ⋈ lineitem on partkey| ≈ min over sketch rows of
    Σ_b cms[r][b]² — computed from the O(depth·width) sketch alone,
    never from the data twice. Exact truth rides along per row so the
    collision-driven overestimate is visible. min(est) over the 4 rows
    is the estimator; one driver-side min away.

    Build shape (optimization r13, guide §1.2): ONE lineitem scan
    collapses to the (partkey, count) frame, and BOTH legs read it —
    the sketch becomes a Σcount-per-bucket aggregation over key
    cardinality (counts are additive, so bucketing the per-key counts
    is bit-identical to bucketing the raw rows — md5_nibbles windows
    unchanged) and the exact Σc² is one more scalar agg. The former
    formulation scanned lineitem twice and md5-hashed every raw row
    ×depth."""
    from .operators.sketches import _cms_bucket
    from .pipeline.dedup import _persist

    kc = _persist(
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ex = kc.select(
        F.col("l_partkey").cast("string").alias("v"),
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("row"),
    )
    cms = ex.groupBy(
        "row", _cms_bucket(1024, "md5_nibbles").alias("bucket")
    ).agg(F.sum("c").cast("long").alias("cnt"))
    ip = cms.groupBy("row").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("est_join_size")
    )
    exact = kc.agg(
        F.sum(F.col("c") * F.col("c"))
        .cast("long")
        .alias("exact_join_size")
    )
    return ip.crossJoin(F.broadcast(exact)).select(
        F.col("row").cast("long").alias("sketch_row"),
        "est_join_size",
        "exact_join_size",
    )


_ENTROPY_COLS = ["o_orderstatus", "o_orderpriority", "o_custkey"]


def _entropy_oracle_sql() -> str:
    arms = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS val FROM orders"
        for c in _ENTROPY_COLS
    )
    return f"""
    WITH m AS ({arms}),
    vc AS (SELECT col, val, count(*) AS cnt FROM m GROUP BY 1, 2),
    n AS (SELECT count(*) AS nt FROM orders),
    s AS (SELECT col, count(*) AS n_distinct,
                 sum(CAST(round(cnt * ln(cnt) * 1000) AS BIGINT)) AS sterm
          FROM vc GROUP BY 1)
    SELECT col, CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(round(1000 * ln(CAST((SELECT nt FROM n) AS DOUBLE))
                      - sterm * 1.0 / (SELECT nt FROM n)) AS BIGINT)
             AS entropy_milli
    FROM s
    """


@q("column_entropy_profile", _entropy_oracle_sql())
def column_entropy_profile(spark, sf_dir):
    """Shannon-entropy column profiling (key detection / compressibility
    / information-content audit): H = ln N − (Σ cnt·ln cnt)/N per
    column, with the Σ frozen to per-value integer milli-terms so the
    accumulation is order-free. All candidate columns melt through ONE
    codegen `stack` into a single two-level aggregate — the
    FD-discovery single-scan discipline. High entropy ≈ key-like
    (o_custkey), low ≈ categorical (o_orderstatus)."""
    o = _t(spark, sf_dir, "orders")
    stack_args = ", ".join(
        f"'{c}', cast({c} as string)" for c in _ENTROPY_COLS
    )
    m = o.select(
        F.expr(f"stack({len(_ENTROPY_COLS)}, {stack_args}) as (col, val)")
    )
    n = o.agg(F.count("*").alias("nt"))
    vc = m.groupBy("col", "val").agg(F.count("*").alias("cnt"))
    s = vc.groupBy("col").agg(
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(
            F.round(F.col("cnt") * F.log("cnt") * 1000).cast("long")
        ).alias("sterm"),
    )
    return s.crossJoin(F.broadcast(n)).select(
        "col",
        "n_distinct",
        F.round(
            1000 * F.log(F.col("nt").cast("double"))
            - F.col("sterm") * 1.0 / F.col("nt")
        )
        .cast("long")
        .alias("entropy_milli"),
    )


@q(
    "interval_union_minutes",
    """
    WITH iv AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT)
               + CAST(round(value * 60) AS BIGINT) AS e
      FROM events WHERE value > 0),
    m AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM iv)
    SELECT user_id,
           CAST(sum(e - greatest(s, coalesce(prev_max, s)))
                FILTER (WHERE prev_max IS NULL OR e > prev_max)
                AS BIGINT) AS covered_seconds,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM m GROUP BY 1
    """,
)
def interval_union_minutes(spark, sf_dir):
    """Interval-union coverage per user (the sweep-line classic): each
    event opens a [ts, ts + value·60s) activity interval; overlaps must
    not double-count, so per user we sort by start and clip each
    interval at the running max of prior ends — one PARTITIONED window
    over a user-keyed shuffle (exactly the sessionize shape; a bucketed
    layout satisfies the partitioning write-side at 100 TB). All
    arithmetic on epoch-second integers — engine-exact."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    iv = ev.select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (
            F.col("ts").cast("long")
            + F.round(F.col("value") * 60).cast("long")
        ).alias("e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = iv.withColumn("prev_max", F.max("e").over(w))
    contrib = F.when(
        F.col("prev_max").isNull() | (F.col("e") > F.col("prev_max")),
        F.col("e")
        - F.greatest(F.col("s"), F.coalesce(F.col("prev_max"), F.col("s"))),
    )
    return m.groupBy("user_id").agg(
        F.sum(contrib).cast("long").alias("covered_seconds"),
        F.count("*").cast("long").alias("n_intervals"),
    )


@q(
    "theil_sen_trend",
    """
    WITH d AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             count(*) AS cnt
      FROM events GROUP BY 1, 2),
    sl AS (
      SELECT a.event_type,
             CAST(round((b.cnt - a.cnt) * 1000.0 / (b.day - a.day))
                  AS BIGINT) AS slope_milli
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND b.day > a.day),
    r AS (
      SELECT event_type, slope_milli,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope_milli, event_type) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM sl)
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           slope_milli AS theil_sen_slope_milli
    FROM r WHERE rn = (n + 1) // 2
    """,
)
def theil_sen_trend(spark, sf_dir):
    """Theil-Sen robust trend per event type: the MEDIAN of all pairwise
    day-to-day slopes of the daily count series — the estimator that
    shrugs off the outlier days that wreck least squares. The raw scan
    collapses to the calendar-sized daily aggregate FIRST (the EWMA
    discipline), so the O(days²) pairwise-slope join is over ~30-row
    groups — bounded at any corpus size (a decade of days is 6.7M pairs
    per key, still nothing). Slopes frozen to integer milli; the median
    is the lower of the two middles (rank (n+1)÷2) under a partitioned,
    deterministic order."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
        .cast("long")
        .alias("day"),
    ).agg(F.count("*").alias("cnt"))
    a, b = d.alias("a"), d.alias("b")
    sl = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.round(
            (F.col("b.cnt") - F.col("a.cnt"))
            * 1000.0
            / (F.col("b.day") - F.col("a.day"))
        )
        .cast("long")
        .alias("slope_milli"),
    )
    w = Window.partitionBy("event_type").orderBy("slope_milli", "event_type")
    wn = Window.partitionBy("event_type")
    r = sl.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(wn)
    )
    return r.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.col("slope_milli").alias("theil_sen_slope_milli"),
    )


@q(
    "km_time_to_purchase",
    """
    WITH ev AS (
      SELECT user_id, event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
      FROM events),
    u AS (SELECT user_id, min(day) AS f, max(day) AS l,
                 min(CASE WHEN event_type = 'purchase' THEN day END) AS p
          FROM ev GROUP BY 1),
    lif AS (SELECT user_id,
                   CASE WHEN p IS NOT NULL THEN p - f ELSE l - f END AS dur,
                   CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS churn
            FROM u),
    t AS (SELECT dur AS td, sum(churn) AS d FROM lif GROUP BY 1
          HAVING sum(churn) > 0),
    r AS (SELECT t.td, t.d,
                 (SELECT count(*) FROM lif WHERE dur >= t.td) AS n,
                 CASE WHEN t2.n2 = t.d THEN CAST(-13815511 AS BIGINT)
                      ELSE CAST(round(ln((t2.n2 - t.d) * 1.0 / t2.n2)
                                      * 1000000) AS BIGINT)
                 END AS term_micro
          FROM t JOIN (SELECT td2.td, count(*) AS n2
                       FROM (SELECT DISTINCT td FROM t) td2
                       JOIN lif ON lif.dur >= td2.td GROUP BY 1) t2
            ON t2.td = t.td)
    SELECT a.td AS duration_days, CAST(min(a.n) AS BIGINT) AS n_risk,
           CAST(min(a.d) AS BIGINT) AS n_events,
           CAST(round(exp(sum(b.term_micro) / 1000000.0) * 1000)
                AS BIGINT) AS survival_milli
    FROM r a JOIN r b ON b.td <= a.td
    GROUP BY a.td
    """,
)
def km_time_to_purchase(spark, sf_dir):
    """Kaplan-Meier survival curve for time-to-first-purchase
    (censoring-aware): the event is a user's first purchase, measured
    in days from their first activity; users who never purchase are
    censored at their last activity. At each churn duration t: n_risk = users
    surviving ≥ t, d = churn events at t, S(t) = Π(1 − d/n). The
    product is FP-order-proof: each factor freezes to an integer
    micro-nat log term, the cumulative step sums INTEGERS over a
    bounded self-join (distinct durations ≤ observation days — never a
    global window), and one exp at the end. The raw scan collapses
    per-user first (min/max day, map-side combinable) — at 100 TB
    that's the only corpus pass."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
        .cast("long")
        .alias("day"),
    )
    u = ev.groupBy("user_id").agg(
        F.min("day").alias("f"),
        F.max("day").alias("l"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("day"))
        ).alias("p"),
    )
    lif = u.select(
        F.when(F.col("p").isNotNull(), F.col("p") - F.col("f"))
        .otherwise(F.col("l") - F.col("f"))
        .alias("dur"),
        F.when(F.col("p").isNotNull(), 1).otherwise(0).alias("churn"),
    )
    t = (
        lif.groupBy(F.col("dur").alias("td"))
        .agg(F.sum("churn").alias("d"))
        .filter(F.col("d") > 0)
    )
    n = (
        t.select("td")
        .join(lif, lif["dur"] >= F.col("td"))
        .groupBy("td")
        .agg(F.count("*").alias("n"))
    )
    r = t.join(n, "td").select(
        "td",
        "d",
        "n",
        F.when(F.col("n") == F.col("d"), F.lit(-13815511))
        .otherwise(
            F.round(
                F.log((F.col("n") - F.col("d")) * 1.0 / F.col("n")) * 1e6
            ).cast("long")
        )
        .cast("long")
        .alias("term_micro"),
    )
    a, b = r.alias("a"), r.alias("b")
    return (
        a.join(b, F.col("b.td") <= F.col("a.td"))
        .groupBy(F.col("a.td").alias("duration_days"))
        .agg(
            F.min("a.n").cast("long").alias("n_risk"),
            F.min("a.d").cast("long").alias("n_events"),
            F.round(F.exp(F.sum("b.term_micro") / 1e6) * 1000)
            .cast("long")
            .alias("survival_milli"),
        )
    )


@q(
    "ab_test_conversion",
    """
    WITH pc AS (
      SELECT user_id,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) AS np
      FROM events GROUP BY 1),
    avgp AS (SELECT sum(np) * 1.0 / count(*) AS ap FROM pc),
    c AS (SELECT user_id % 2 AS grp,
                 CASE WHEN np > (SELECT ap FROM avgp) THEN 1 ELSE 0 END
                   AS conv
          FROM pc),
    s AS (SELECT grp, count(*) AS n, sum(conv) AS k FROM c GROUP BY 1),
    m AS (SELECT
            (SELECT n FROM s WHERE grp = 0) AS n_a,
            (SELECT k FROM s WHERE grp = 0) AS k_a,
            (SELECT n FROM s WHERE grp = 1) AS n_b,
            (SELECT k FROM s WHERE grp = 1) AS k_b)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(k_a AS BIGINT) AS conv_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(k_b AS BIGINT) AS conv_b,
           CAST(round((k_a * 1.0 / n_a - k_b * 1.0 / n_b)
                 / sqrt(((k_a + k_b) * 1.0 / (n_a + n_b))
                        * (1 - (k_a + k_b) * 1.0 / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)) * 1000) AS BIGINT)
             AS z_milli
    FROM m
    """,
)
def ab_test_conversion(spark, sf_dir):
    """Two-proportion z-test between user cohorts (id parity as the
    assignment) on the above-average-purchaser rate (a scale-free
    conversion definition — an absolute flag saturates at 100% as
    per-user event volume grows with SF) — the experimentation
    primitive:
    per-user conversion flags collapse map-side, the test statistic is
    one fixed IEEE expression over four integers (frozen to milli), so
    the whole analysis is two tiny aggregates at any scale."""
    ev = _t(spark, sf_dir, "events")
    pc = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("np")
    )
    avgp = pc.agg((F.sum("np") * 1.0 / F.count("*")).alias("ap"))
    c = pc.crossJoin(F.broadcast(avgp)).select(
        (F.col("user_id") % 2).alias("grp"),
        F.when(F.col("np") > F.col("ap"), 1).otherwise(0).alias("conv"),
    )
    s = c.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("conv").alias("k")
    )
    a = s.filter(F.col("grp") == 0).select(
        F.col("n").alias("n_a"), F.col("k").alias("k_a")
    )
    b = s.filter(F.col("grp") == 1).select(
        F.col("n").alias("n_b"), F.col("k").alias("k_b")
    )
    pa = F.col("k_a") * 1.0 / F.col("n_a")
    pb = F.col("k_b") * 1.0 / F.col("n_b")
    pp = (F.col("k_a") + F.col("k_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    return a.crossJoin(b).select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("k_a").cast("long").alias("conv_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("k_b").cast("long").alias("conv_b"),
        F.round(
            (pa - pb)
            / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
            * 1000
        )
        .cast("long")
        .alias("z_milli"),
    )


@q(
    "benford_price_audit",
    """
    WITH d AS (
      SELECT CAST(floor(o_totalprice
                        / pow(10, floor(log10(o_totalprice)))) AS BIGINT)
               AS digit
      FROM orders WHERE o_totalprice > 0),
    n AS (SELECT count(*) AS tot FROM d)
    SELECT digit, CAST(count(*) AS BIGINT) AS cnt,
           CAST(round(count(*) * 1000.0 / (SELECT tot FROM n)) AS BIGINT)
             AS observed_milli,
           CAST(round(ln(1 + 1.0 / digit) / ln(10) * 1000) AS BIGINT)
             AS benford_milli
    FROM d GROUP BY 1
    """,
)
def benford_price_audit(spark, sf_dir):
    """Benford's-law first-digit audit on order totals — the classic
    forensic data-quality screen (synthetic or fabricated monetary data
    betrays itself here; TPC-H prices are sums of uniform parts, so
    expect visible deviation — that deviation IS the finding). Digits
    extracted NUMERICALLY (floor(p/10^floor(log10 p)) — never via
    double→string formatting, which engines disagree on); observed vs
    Benford shares frozen to milli. One scan, 9-key aggregate."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.floor(
            F.col("o_totalprice")
            / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
        )
        .cast("long")
        .alias("digit")
    )
    n = d.agg(F.count("*").alias("tot"))
    return (
        d.groupBy("digit")
        .agg(F.count("*").cast("long").alias("cnt"))
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            "cnt",
            F.round(F.col("cnt") * 1000.0 / F.col("tot"))
            .cast("long")
            .alias("observed_milli"),
            F.round(F.log(1 + 1.0 / F.col("digit")) / F.log(F.lit(10.0)) * 1000)
            .cast("long")
            .alias("benford_milli"),
        )
    )


@q(
    "hll_own_sliding_7d",
    f"""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             user_id
      FROM events),
    days AS (SELECT DISTINCT day FROM d),
    pe AS (SELECT days.day AS g, d.user_id
           FROM days JOIN d ON d.day BETWEEN days.day - 6 AND days.day),
    est AS ({_hll_own_sql("pe", "g", "user_id")}),
    ex AS (SELECT g, CAST(count(DISTINCT user_id) AS BIGINT) AS ndv_exact
           FROM pe GROUP BY 1)
    SELECT CAST(est.g AS BIGINT) AS day_num, est.ndv_est, ex.ndv_exact
    FROM est JOIN ex USING (g)
    """,
)
def hll_own_sliding_7d(spark, sf_dir):
    """Trailing-7-day distinct users per day from the own-HLL register
    tables: per-DAY registers max-merge into each day's trailing window
    — the sliding-distinct query that is infeasible exactly at 100 TB
    (distinct doesn't decompose over windows) but costs 7·2^p register
    rows per day with a mergeable sketch. The ORACLE computes the same
    registers the brute way (raw rows replicated into each window), so
    the hash match proves window-merge == direct-build — the sliding
    twin of `hll_own_rollup`'s proof. Exact counts ride along so the
    estimator error is visible."""
    from .operators import sketches as SK

    ev = _t(spark, sf_dir, "events").select(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
        .cast("long")
        .alias("day_num"),
        "user_id",
    )
    day_regs = SK.hll_own_registers(ev, "user_id", ["day_num"])
    days = day_regs.select("day_num").distinct()
    win_regs = (
        days.alias("a")
        .join(
            day_regs.alias("b"),
            (F.col("b.day_num") >= F.col("a.day_num") - 6)
            & (F.col("b.day_num") <= F.col("a.day_num")),
        )
        .groupBy(F.col("a.day_num").alias("day_num"), F.col("b.bucket"))
        .agg(F.max("b.reg").cast("int").alias("reg"))
    )
    est = SK.hll_own_estimate(win_regs, ["day_num"])
    dd = ev.distinct()
    exact = (
        days.alias("a")
        .join(
            dd.alias("b"),
            (F.col("b.day_num") >= F.col("a.day_num") - 6)
            & (F.col("b.day_num") <= F.col("a.day_num")),
        )
        .groupBy(F.col("a.day_num").alias("day_num"))
        .agg(F.countDistinct("b.user_id").cast("long").alias("ndv_exact"))
    )
    return est.join(exact, "day_num")


def _minhash_pr_oracle_sql() -> str:
    """Candidate-stage PR oracle: the shared minhash CTE chain for the
    LSH candidates + an ALL-PAIRS exact-Jaccard truth set (independent
    of the Spark side's inverted-index truth) joined into TP/FP/FN."""
    return f"""
    WITH {_minhash_base_ctes()},
    cands AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.id < b.id),
    truth AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM sh a JOIN sh b ON a.id < b.id
      WHERE len(list_intersect(a.shingles, b.shingles))
              / len(list_distinct(a.shingles || b.shingles)) >= 0.5),
    m AS (SELECT
            (SELECT count(*) FROM cands) AS n_candidates,
            (SELECT count(*) FROM truth) AS n_truth,
            (SELECT count(*) FROM cands JOIN truth USING (id_a, id_b))
              AS tp)
    SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(tp AS BIGINT) AS tp,
           CAST(n_candidates - tp AS BIGINT) AS fp,
           CAST(n_truth - tp AS BIGINT) AS fn,
           CAST(round(1000.0 * tp / greatest(n_candidates, 1)) AS BIGINT)
             AS precision_milli,
           CAST(round(1000.0 * tp / greatest(n_truth, 1)) AS BIGINT)
             AS recall_milli
    FROM m
    """


@q("minhash_pr_eval", _minhash_pr_oracle_sql(), memo=True)
def minhash_pr_eval(spark, sf_dir):
    """Dedup-quality evaluation harness: precision/recall of the
    MinHash-LSH CANDIDATE stage (16 bands of 4, pre-verification)
    against exact 3-gram-Jaccard-≥-0.5 ground truth — the measurement a
    pipeline owner runs before trusting an LSH configuration on 100 TB
    (and the per-config twin of `lsh_tuning_report`'s sweep). Truth
    comes from the inverted-index exact join; candidates from the band
    self-join; TP/FP/FN are two key-joins of pair lists. The oracle's
    truth set is an ALL-PAIRS restatement — independent of the engine's
    candidate generation on both legs.

    Both legs ride the per-corpus shared text layout (optimization
    r14): the candidate leg's signatures read the
    `shared_text_layout.shingle_sets` memo and the truth leg's
    inverted index reads the shash-bucketed
    `shared_text_layout.shingle_posting` memo (DF agg, prune semi-join
    and candidate self-join exchange-free), so the corpus text is
    tokenized exactly once PER CORPUS, not per query."""
    from .sources.shared_text_layout import shingle_posting, shingle_sets

    d = _t(spark, sf_dir, "documents")
    shingled = shingle_sets(spark, sf_dir)
    sigs = DD.minhash_signature(shingled, 64, 42, hash_family="md5")
    cand = DD.minhash_candidate_pairs(sigs, 16, num_hashes=64, hash_family="md5")
    truth = DD.ngram_jaccard_pairs(
        d, threshold=0.5, posting=shingle_posting(spark, sf_dir)
    ).select("id_a", "id_b")
    tp_df = cand.join(truth, ["id_a", "id_b"], "left_semi")
    n_c = cand.agg(F.count("*").alias("n_candidates"))
    n_t = truth.agg(F.count("*").alias("n_truth"))
    n_tp = tp_df.agg(F.count("*").alias("tp"))
    return (
        n_c.crossJoin(n_t)
        .crossJoin(n_tp)
        .select(
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("tp").cast("long").alias("tp"),
            (F.col("n_candidates") - F.col("tp")).cast("long").alias("fp"),
            (F.col("n_truth") - F.col("tp")).cast("long").alias("fn"),
            F.round(
                1000.0 * F.col("tp") / F.greatest(F.col("n_candidates"), F.lit(1))
            )
            .cast("long")
            .alias("precision_milli"),
            F.round(
                1000.0 * F.col("tp") / F.greatest(F.col("n_truth"), F.lit(1))
            )
            .cast("long")
            .alias("recall_milli"),
        )
    )


@q(
    "doremi_reweight_round",
    f"""
    WITH {{bg}},
    pc AS (SELECT w1, w2, count(*) AS cnt FROM bg
           WHERE doc_id % 5 != 0 GROUP BY w1, w2),
    cc AS (SELECT w1, count(*) AS ctx_cnt FROM bg
           WHERE doc_id % 5 != 0 GROUP BY w1),
    lm AS (SELECT p.w1, p.w2,
                  CAST(round(ln(p.cnt / c.ctx_cnt) * 1000000) AS BIGINT) AS lp
           FROM pc p JOIN cc c USING (w1)),
    scd AS (SELECT b.doc_id, coalesce(l.lp, -13815511) AS lp
            FROM bg b LEFT JOIN lm l USING (w1, w2)
            WHERE b.doc_id % 5 = 0),
    a AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS micro
          FROM scd GROUP BY doc_id),
    d2 AS (SELECT doc_id,
                  CAST(round(round(-micro / 1000000.0 / n_bigrams, 6)
                             * 1000000) AS BIGINT) AS d_micro
           FROM a),
    s AS (SELECT d.source, count(*) AS n_docs, sum(d2.d_micro) AS num
          FROM d2 JOIN documents d USING (doc_id) GROUP BY 1),
    gm AS (SELECT CAST(sum(num) AS DOUBLE) / sum(n_docs) AS gavg FROM s),
    w AS (SELECT source, n_docs,
                 CAST(round(num / CAST(n_docs AS DOUBLE)) AS BIGINT)
                   AS avg_nll_micro,
                 CAST(round(exp((num / CAST(n_docs AS DOUBLE)
                                 - (SELECT gavg FROM gm)) / 1000000.0)
                            * 1000000) AS BIGINT) AS w_micro
          FROM s),
    sw AS (SELECT sum(w_micro) AS d FROM w),
    b AS (SELECT source, n_docs, avg_nll_micro, w_micro,
                 (w_micro * 1000000) // (SELECT d FROM sw) AS base,
                 (w_micro * 1000000) % (SELECT d FROM sw) AS rem
          FROM w),
    tot AS (SELECT sum(base) AS sb FROM b),
    r AS (SELECT x.source, count(y.source) AS ahead
          FROM b x LEFT JOIN b y
            ON (y.rem > x.rem) OR (y.rem = x.rem AND y.source < x.source)
          GROUP BY x.source)
    SELECT b.source, CAST(b.n_docs AS BIGINT) AS n_docs,
           b.avg_nll_micro, b.w_micro,
           CAST(b.base + CASE WHEN r.ahead < (1000000 - tot.sb)
                              THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM b JOIN r USING (source), tot
    """.format(bg=_BG_SQL),
)
def doremi_reweight_round(spark, sf_dir):
    """One DoReMi-style domain-reweighting round (Xie et al. 2023,
    simplified to a bigram reference model): score the held-out shard
    with the corpus-trained LM, compute each source's EXCESS loss vs
    the global average, exponentiate to mixture weights (η=1, micro-
    frozen), and allocate a 1M-token budget by largest remainder
    (Σ alloc == budget exactly). The modern data-mixture optimization
    loop, end-to-end on-engine: LM train + score are the
    `doc_perplexity_lm` machinery (integer micro-nats), the allocation
    is `largest_remainder_allocation(normalize=True)` — window-free,
    join-based remainder ranks. Sources with above-average loss get
    upweighted, which is precisely DoReMi's excess-loss signal."""
    from .pipeline import lm as LM
    from .pipeline.curation import largest_remainder_allocation

    docs = _t(spark, sf_dir, "documents")
    lm = LM.bigram_lm(docs.filter(F.col("doc_id") % 5 != 0))
    per_doc = LM.doc_perplexity(docs.filter(F.col("doc_id") % 5 == 0), lm)
    d2 = per_doc.select(
        "doc_id",
        F.round(F.col("avg_neg_logp") * 1e6).cast("long").alias("d_micro"),
    )
    from .pipeline.dedup import _persist

    # persisted: the whole LM-train+score pipeline collapses to this
    # source-cardinality frame, which the allocation's bounded collect
    # and the final join both consume — one LM pass, not two
    s = _persist(
        d2.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("d_micro").alias("num"))
    )
    gm = s.agg(
        (F.sum("num").cast("double") / F.sum("n_docs")).alias("gavg")
    )
    w = s.crossJoin(F.broadcast(gm)).select(
        "source",
        "n_docs",
        F.round(F.col("num") / F.col("n_docs").cast("double"))
        .cast("long")
        .alias("avg_nll_micro"),
        F.round(
            F.exp(
                (
                    F.col("num") / F.col("n_docs").cast("double")
                    - F.col("gavg")
                )
                / 1e6
            )
            * 1e6
        )
        .cast("long")
        .alias("w_micro"),
    )
    alloc = largest_remainder_allocation(
        w.select("source", "w_micro"), budget=1_000_000, normalize=True
    )
    return w.select("source", "n_docs", "avg_nll_micro").join(
        alloc, "source"
    ).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "avg_nll_micro",
        F.col("w_micro").cast("long").alias("w_micro"),
        "alloc",
    )


