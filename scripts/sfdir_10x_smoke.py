"""Synthesize a 10x sf directory (key-shifted replicas of sf0.1) and
smoke every sf-dir bench query on it: no crashes, sane walls, output
rows scaling plausibly. NOT an oracle check — scale insurance only
(production runs may use a larger sf).

Usage: python scripts/sfdir_10x_smoke.py <sf0.1_dir> <work_dir>

The replicated tables are written once into ``work_dir`` (reused while its
``_DONE`` marker exists); one JSON line per query goes to stdout. Run it
before and after any change to parse, dedup or write: row counts must be
identical and no query may grow super-linearly."""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cca_spark.session import get_spark

R = 10


def build(spark, src, dst):
    if os.path.exists(os.path.join(dst, "_DONE")):
        return
    os.makedirs(dst, exist_ok=True)
    # integer-keyed tables: offset every key-ish integer column by a
    # replica stride far above the real key range
    strides = {
        "documents": {"doc_id": 100_000_000},
        "embeddings": {"vec_id": 100_000_000},
        "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
        "lineitem": {"l_orderkey": 100_000_000, "l_suppkey": 10_000_000, "l_partkey": 10_000_000},
        "customer": {"c_custkey": 10_000_000},
        "supplier": {"s_suppkey": 10_000_000},
        "part": {"p_partkey": 10_000_000},
        "nation": {},
        "region": {},
    }
    for t, shifts in strides.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        if shifts:
            reps = []
            for r in range(R):
                d = df
                for c, stride in shifts.items():
                    d = d.withColumn(c, (F.col(c) + F.lit(r * stride)).cast(df.schema[c].dataType))
                reps.append(d)
            out = reps[0]
            for d in reps[1:]:
                out = out.unionByName(d)
        else:
            out = df  # dimension lookup tables stay as-is
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print("built", t, flush=True)
    # events: conv identity derives from user_id (hot conv = user_id%10==0,
    # transcripts_sql) — shift user_id by a multiple of 10 so replica hot
    # convs stay hot (mod-10 class preserved) yet conv keys stay disjoint;
    # event_id shifted to keep turn tie-break and synth-text variation
    ev = spark.read.parquet(f"{src}/events.parquet")
    reps = []
    for r in range(R):
        reps.append(
            ev.withColumn("user_id", (F.col("user_id") + F.lit(r * 1_000_000_000)).cast("long"))
            .withColumn("event_id", (F.col("event_id") + F.lit(r * 1_000_000_000)).cast("long"))
        )
    out = reps[0]
    for d in reps[1:]:
        out = out.unionByName(d)
    out.write.mode("overwrite").parquet(f"{dst}/events.parquet")
    print("built events", flush=True)
    open(os.path.join(dst, "_DONE"), "w").write("ok")


def main():
    src, dst = sys.argv[1], sys.argv[2]
    spark = get_spark(app_name="sfbig_smoke")
    from cca_spark.dist import ensure_on_executors

    ensure_on_executors(spark)
    build(spark, src, dst)

    from cca_spark.operators import corpus_prep as CP
    from cca_spark.operators import decontam as DC
    from cca_spark.operators import dedup as DD
    from cca_spark.operators import redact as RED
    from cca_spark.operators import relational as Rl
    from cca_spark.operators import similarity as SIM
    from cca_spark.operators import textstats as TS

    queries = {
        "pricing_summary": lambda: Rl.pricing_summary(spark, dst).count(),
        "join_chain_revenue": lambda: Rl.join_chain_revenue(spark, dst).count(),
        "sessionize_events": lambda: Rl.sessionize_events(spark, dst).count(),
        "range_containment": lambda: Rl.range_containment_suppression(spark, dst).count(),
        "dedup_minhash_lsh": lambda: DD.minhash_lsh_pairs(spark, dst).count(),
        "ngram_containment": lambda: DD.ngram_containment_pairs(spark, dst).count(),
        "ann_brute_force": lambda: SIM.brute_force_topk(spark, dst).count(),
        "tfidf_top_terms": lambda: TS.tfidf_top_terms(spark, dst).count(),
        "bm25_retrieval": lambda: TS.bm25_retrieval(spark, dst).count(),
        "pii_scrub": lambda: RED.pii_scrub(spark, dst).count(),
        "ngram_decontaminate": lambda: DC.ngram_decontaminate(spark, dst).count(),
        "repetition_filter": lambda: DC.repetition_filter(spark, dst).count(),
        "lm_unigram_score": lambda: CP.lm_unigram_logprob(spark, dst).count(),
        "pack_token_budget": lambda: CP.pack_token_budget(spark, dst).count(),
        "mixture_weighted_sample": lambda: CP.mixture_weighted_sample(spark, dst).count(),
    }
    out = {}
    for name, fn in queries.items():
        spark.sparkContext.setJobDescription(f"sfbig:{name}")
        t0 = time.time()
        n = fn()
        out[name] = {"sec": round(time.time() - t0, 2), "rows": n}
        spark.catalog.clearCache()
        import gc

        gc.collect()
        spark._jvm.System.gc()
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"summary": out}))
    spark.stop()


if __name__ == "__main__":
    main()
