"""Build a REAL scale bump of ALL ten tables (documents, embeddings,
events + the seven TPC-H-shaped relational tables) at K x sf0.1 under
the gitignored scratch dir —
unlike in-plan K-inflation (which replicates rows inside one query),
this grows the THINGS a real sf bump grows:

- keyspace: every copy gets fresh doc/vec/user/event ids, and copy
  content is DECORRELATED from its base row (per-copy token suffix on
  EVERY token => zero cross-copy shared shingles; dimension-rotated +
  sign-flipped embeddings => cross-copy cosine ~ 0), so the near-dup /
  ANN structure per unit of data matches the base corpus instead of the
  every-copy-is-a-twin shape in-plan inflation produces;
- file count: each table is written as multiple parquet files, so scan
  parallelism and footer overheads grow like a real corpus.

Usage: python tools/make_scaled_corpus.py [K] [out_dir]
Defaults: K=5 (an "sf0.5"), out_dir=<scratch root>/sf0.5 (the scratch
root is dsci551_edfs_spark.memo.SCRATCH). Measure it against its base
with `tools/measure.py --sf <BASE> --sf <out_dir>`.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"


def main() -> None:
    from pyspark.sql import functions as F

    from dsci551_edfs_spark import get_spark
    from dsci551_edfs_spark.memo import SCRATCH
    from dsci551_edfs_spark.sources.registry import load_table

    k = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(SCRATCH, f"sf0.{k}")
    os.makedirs(out, exist_ok=True)
    spark = get_spark("make-scaled-corpus")
    spark.sparkContext.setLogLevel("ERROR")

    copies = spark.range(k).select(F.col("id").alias("_c"))

    from dsci551_edfs_spark.functions.text import LANG_STOPWORDS

    stopwords = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    docs = load_table(spark, BASE, "documents")
    n_docs = docs.agg(F.max("doc_id")).first()[0] + 1
    scaled_docs = (
        docs.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") + F.col("_c") * n_docs).alias("doc_id"),
            # copy 0 keeps the base text verbatim; copies > 0 suffix every
            # NON-STOPWORD token with an alphanumeric copy tag: content
            # trigrams break (near-dup structure grows ~linearly, not as
            # the all-copies-are-twins shape), while the stopwords
            # the lang-id/quality gate keys on survive, so the scaled
            # corpus flows through the full pipeline instead of being
            # dropped at the gate
            F.when(F.col("_c") == 0, F.col("text"))
            .otherwise(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda t: F.when(
                            F.lower(t).isin(*stopwords), t
                        ).otherwise(
                            F.concat(t, F.lit("x"), F.col("_c").cast("string"))
                        ),
                    ),
                )
            )
            .alias("text"),
            "lang",
            "source",
        )
        # n_chars must describe the REWRITTEN text (suffixed copies are
        # longer; concat_ws collapses whitespace runs) — carrying the
        # base row's value would hand chars-per-token heuristics a
        # corpus whose metadata contradicts its content
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(4 * k)
    )
    scaled_docs.write.mode("overwrite").parquet(f"{out}/documents.parquet")

    emb = load_table(spark, BASE, "embeddings")
    n_vecs = emb.agg(F.max("vec_id")).first()[0] + 1
    scaled_emb = (
        emb.crossJoin(F.broadcast(copies))
        .select(
            (F.col("vec_id") + F.col("_c") * n_vecs).alias("vec_id"),
            # rotate dimensions by 7 per copy and flip odd dims: norms are
            # preserved, cross-copy cosine is ~0 (decorrelated), and the
            # transform is exactly reproducible
            F.when(F.col("_c") == 0, F.col("embedding"))
            .otherwise(
                F.expr(
                    "transform(embedding, (x, i) -> embedding["
                    "(i + 7 * _c) % size(embedding)]"
                    " * (CASE WHEN i % 2 = 1 THEN -1.0 ELSE 1.0 END))"
                )
            )
            .alias("embedding"),
            "label",
        )
        .repartition(2 * k)
    )
    scaled_emb.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    ev = load_table(spark, BASE, "events")
    n_users = ev.agg(F.max("user_id")).first()[0] + 1
    n_events = ev.agg(F.max("event_id")).first()[0] + 1
    scaled_ev = (
        ev.crossJoin(F.broadcast(copies))
        .select(
            (F.col("event_id") + F.col("_c") * n_events).alias("event_id"),
            # jitter copies by a few non-round minutes so session/window
            # boundaries differ per copy instead of stacking 5-deep
            F.expr(
                "ts + make_interval(0, 0, 0, 0, 0, _c * 137, 0)"
            ).alias("ts"),
            (F.col("user_id") + F.col("_c") * n_users).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .repartition(4 * k)
    )
    scaled_ev.write.mode("overwrite").parquet(f"{out}/events.parquet")

    # ---- TPC-H-shaped relational tables: key-consistent K x growth.
    # region/nation are FIXED dimensions (real TPC-H keeps them constant
    # with SF) — copied verbatim. The growing tables get per-copy key
    # offsets that PRESERVE referential integrity: copy c's orders point
    # at copy c's customers, its lineitems at its orders/parts/suppliers,
    # so join selectivities per unit of data match the base corpus.
    for t in ("region", "nation"):
        load_table(spark, BASE, t).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )

    def _max1(df, col):
        return df.agg(F.max(col)).first()[0] + 1

    cust = load_table(spark, BASE, "customer")
    supp = load_table(spark, BASE, "supplier")
    part = load_table(spark, BASE, "part")
    orders = load_table(spark, BASE, "orders")
    li = load_table(spark, BASE, "lineitem")
    n_cust = _max1(cust, "c_custkey")
    n_supp = _max1(supp, "s_suppkey")
    n_part = _max1(part, "p_partkey")
    n_ord = _max1(orders, "o_orderkey")

    def _scale(df, shifts: dict[str, int], nfiles: int):
        cols = [
            (F.col(c) + F.col("_c") * n).alias(c) if n else F.col(c)
            for c, n in ((c, shifts.get(c, 0)) for c in df.columns)
        ]
        return (
            df.crossJoin(F.broadcast(copies))
            .select(*cols)
            .repartition(nfiles)
        )

    _scale(cust, {"c_custkey": n_cust}, 2 * k).write.mode(
        "overwrite"
    ).parquet(f"{out}/customer.parquet")
    _scale(supp, {"s_suppkey": n_supp}, k).write.mode("overwrite").parquet(
        f"{out}/supplier.parquet"
    )
    _scale(part, {"p_partkey": n_part}, k).write.mode("overwrite").parquet(
        f"{out}/part.parquet"
    )
    _scale(
        orders, {"o_orderkey": n_ord, "o_custkey": n_cust}, 3 * k
    ).write.mode("overwrite").parquet(f"{out}/orders.parquet")
    _scale(
        li,
        {
            "l_orderkey": n_ord,
            "l_partkey": n_part,
            "l_suppkey": n_supp,
        },
        4 * k,
    ).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")

    for t in (
        "documents",
        "embeddings",
        "events",
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
    ):
        path = f"{out}/{t}.parquet"
        n = spark.read.parquet(path).count()
        files = len(
            [f for f in os.listdir(path) if f.endswith(".parquet")]
        )
        print(f"{t}: {n} rows, {files} files -> {path}", flush=True)


if __name__ == "__main__":
    main()
