"""Scale-stress harness: disjoint-replica scaling of the heavy families.

Replicates the gate tables N× with DISJOINT key spaces (each replica's
orders/parts/docs/vectors are shifted into their own id range), runs a
family's core pipeline at 1× and N×, and prints one JSON line of wall
ratios.  Disjoint replication is the fair plan-scaling probe: the result
is N independent copies of the workload, so a scale-correct plan should
grow ~linearly in wall (ratio ≲ N on a fixed-size machine) and a plan
with a hidden quadratic term shows ratio >> N.

This formalizes the ad-hoc sessions behind the 10×/100× numbers in
docs/SCALE.md (stop-bucket finding, triangle sublinearity, the r5
unified-edge-artifact check) so the evidence is reproducible.

Usage:  python tools/stress.py [N] [family ...]
        N defaults to 10; families default to all.
Families: see FAMILY_NAMES below (graph, basket, cc, dedup, text,
embed, minhash, decontam, prf, dsir, qnb, searcheval, searchevalwide,
searchevalwide500, ccnet, mrl).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# id shifts big enough that no replica overlaps another at any tested SF
ORDER_SHIFT = 10_000_000_000
PART_SHIFT = 1_000_000_000
DOC_SHIFT = 1_000_000_000
VEC_SHIFT = 1_000_000_000


def _replicate(df, n, shifts, salt_text=None):
    """n disjoint copies; ``shifts`` maps column -> per-replica stride.

    The narrow 1x input is repartitioned BEFORE the xN explode: the gate
    parquet is one row group = one scan task, so without this the whole
    Nx fan-out (and the shuffle write feeding the first join) runs
    single-threaded — a harness artifact, not a plan property.  A real
    Nx corpus is Nx files read by Nx scan tasks; spreading the explode
    across the cluster's task slots is the faithful simulation (found at
    N=30: basket measured 55x wall for 30x data, all of it one core
    exploding 18M rows — 21.5x / 143s -> 48s after this fix).

    Because Generate does not scale `sizeInBytes`, every frame built
    through this function carries a 1x static size estimate — the
    stress session therefore runs with implicit broadcast DISABLED
    (see main()): a statically mis-planned BroadcastHashJoin cannot be
    demoted by AQE (it only promotes SMJ->BHJ), and at N=300 the
    "tiny" replica side was a ~2 GB broadcast collect that died on
    spark.driver.maxResultSize (N<=100 squeaked under the 1 GiB cap
    and silently measured a broadcast no real-scale plan would pick).
    """
    from pyspark.sql import functions as F

    out = df
    for c in shifts:
        out = out.withColumn(c, F.col(c).cast("long"))
    sc = df.sparkSession.sparkContext
    out = out.repartition(max(sc.defaultParallelism, 32))
    out = out.withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
    for c, stride in shifts.items():
        out = out.withColumn(
            c, F.col(c) + F.col("_rep").cast("long") * F.lit(stride)
        )
    if salt_text is not None:
        # CONTENT disjointness, not just key disjointness: id-shifted
        # replicas still share their text byte-for-byte, so any
        # content-pairwise family (minhash) sees every LSH bucket grow
        # N× and the candidate stream grow N² — a property of the
        # replication trick, not the plan (measured: the first N=100
        # minhash probe filled the disk with ~80 GB of shuffle spill
        # from replica-cross pairs).  Inserting a 2-char replica code
        # every 3 chars makes EVERY 5-gram shingle carry the code
        # (max run of un-salted chars = 3 < 5), so replicas occupy
        # disjoint shingle spaces while within-replica duplicates are
        # preserved exactly — N independent copies of the 1× workload,
        # which is what the ladder is supposed to measure.
        out = out.withColumn(
            salt_text,
            F.expr(
                f"regexp_replace({salt_text}, '(.{{3}})', "
                "concat('$1', char(97 + _rep % 26), "
                "char(97 + CAST(_rep / 26 AS INT) % 26)))"
            ),
        )
    return out.drop("_rep")


def _families(spark):
    from pyspark.sql import functions as F

    from kafka_error_handling_spark.datapipe import dedup as D
    from kafka_error_handling_spark.datapipe import text as T
    from kafka_error_handling_spark.plans import graph as G
    from kafka_error_handling_spark.sources.files import load_table

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "source", "lang"
    )
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")

    # Single-box escape hatch for extreme-N probes: the replicated edge
    # artifact at N=300 (~360M rows deserialized) no longer fits the
    # one JVM's storage memory alongside 32 active tasks — the N=300
    # heap OOM was MemoryStore re-unrolling exactly this checkpoint.
    # DISK_ONLY trades re-read cost for unbounded artifact size; on a
    # real cluster storage memory scales with executor count and the
    # default level is correct.
    art_level = None
    if os.environ.get("KEH_STRESS_ARTIFACT_DISK"):
        from pyspark import StorageLevel

        art_level = StorageLevel.DISK_ONLY

    def graph(n):
        df = _replicate(
            li, n, {"l_orderkey": ORDER_SHIFT, "l_partkey": PART_SHIFT}
        )
        w = G.weighted_copurchase_edges(df).localCheckpoint(
            eager=True, storageLevel=art_level
        )
        sig = w.filter(F.col("n_orders") >= 2).select("src", "dst")
        G.triangle_counts(sig).count()
        und = w.select("src", "dst")
        both = und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        G.pagerank_scaled(both).count()

    def basket(n):
        df = _replicate(
            li, n, {"l_orderkey": ORDER_SHIFT, "l_partkey": PART_SHIFT}
        )
        (
            G.weighted_copurchase_edges(df)
            .orderBy(F.desc("n_orders"), F.asc("src"), F.asc("dst"))
            .limit(50)
            .count()
        )

    def cc(n):
        # converged connected components (r7): disjoint replication keeps
        # per-component diameter constant, so the fixpoint ROUND COUNT
        # must not grow with N — wall should scale only with the per-round
        # edge volume.  The auto-regime probe sees N*|V_1x| nodes and
        # switches to the co-partitioned shuffle regime on its own once
        # past the maxResultSize-derived ceiling.
        df = _replicate(
            li, n, {"l_orderkey": ORDER_SHIFT, "l_partkey": PART_SHIFT}
        )
        w = G.weighted_copurchase_edges(df).localCheckpoint(
            eager=True, storageLevel=art_level
        )
        sig = w.filter(F.col("n_orders") >= 2).select("src", "dst")
        G.connected_components(sig).groupBy("comp_id").count().count()

    def dedup(n):
        df = _replicate(docs, n, {"doc_id": DOC_SHIFT})
        D.exact_dedup(df).count()
        D.simhash(df).count()

    def text(n):
        df = _replicate(docs, n, {"doc_id": DOC_SHIFT})
        T.lm_score(df).count()

    def minhash(n):
        # the FULL LSH gate pipeline (signature -> banding -> prefilter ->
        # verify) over replicated docs, FORCED into the shuffle regime
        # (VERDICT r7 #3 done-criteria: one N>=100 ladder line executed
        # with the signature-frame broadcast disabled).  At N>=100 the
        # auto crossover picks shuffle anyway (N x docs x 64 longs far
        # exceeds the 1 GiB maxResultSize budget); forcing it makes the
        # regime explicit in the record regardless of N.
        df = _replicate(docs, n, {"doc_id": DOC_SHIFT}, salt_text="text")
        spark.conf.set(D.SIG_BROADCAST_CONF, "false")
        try:
            D.q_dedup_minhash_lsh(spark, SF_DIR, docs=df).count()
        finally:
            spark.conf.unset(D.SIG_BROADCAST_CONF)

    def embed(n):
        df = _replicate(emb, n, {"vec_id": VEC_SHIFT})
        # brute-force knn of a FIXED query set against the replicated
        # corpus — the query side must not scale with the corpus
        from kafka_error_handling_spark.datapipe.similarity import knn_bruteforce

        knn_bruteforce(df, emb.filter(F.col("vec_id") < 10), k=5).count()

    def decontam(n):
        # semantic decontamination: the corpus side replicates N×, the
        # benchmark side stays FIXED (the bounded broadcast eval set) —
        # wall must scale with the one corpus scan only, never with
        # corpus × corpus
        from kafka_error_handling_spark.datapipe.text import decontaminate_semantic

        df = _replicate(emb, n, {"vec_id": VEC_SHIFT})
        bench = emb.filter(F.col("vec_id") % 97 == 0)
        decontaminate_semantic(df, bench).count()

    def prf(n):
        # PRF query expansion: the feedback pool (<=10 rows) and term set
        # (<=6 rows) are bounded regardless of corpus size — wall must
        # scale with the corpus scans (feedback ranking + re-scoring),
        # never with pool x corpus
        from kafka_error_handling_spark.datapipe.ranking import (
            _QUERY_TERMS,
            query_expansion_prf,
        )

        df = _replicate(docs, n, {"doc_id": DOC_SHIFT})
        query_expansion_prf(df, _QUERY_TERMS).count()

    def searcheval(n):
        # macro retrieval eval: the eval set is FIXED (5 topics, bounded
        # per-query frames) — wall must scale with |Q| corpus-linear
        # ranker scans, never with pool x corpus or |Q| x |Q|
        from kafka_error_handling_spark.datapipe.ranking import search_eval_macro

        d = _replicate(docs, n, {"doc_id": DOC_SHIFT})
        e = _replicate(emb, n, {"vec_id": VEC_SHIFT})
        search_eval_macro(d, e).count()

    def searchevalwide(n):
        # wide-topic (60) eval on the DATA-DRIVEN engine (r13): corpus
        # IO is 2 document passes + 1 embeddings pass and the persisted
        # frequency frame is one narrow row per (qid, matching doc) —
        # wall must scale with the corpus scans, never with |Q| x corpus
        # (the unrolled engine's regime) or pool x corpus
        from kafka_error_handling_spark.datapipe.ranking import (
            EVAL_WIDE_QUERIES,
            search_eval_macro,
        )

        d = _replicate(docs, n, {"doc_id": DOC_SHIFT})
        e = _replicate(emb, n, {"vec_id": VEC_SHIFT})
        search_eval_macro(d, e, EVAL_WIDE_QUERIES).count()

    def searchevalwide500(n):
        # |Q| = 500 probe (VERDICT r13 #6): the 60-topic gate proves the
        # data-driven shape; SCALE.md's "no second cliff at 500 topics"
        # claim needs a measured entry.  Topics come from the SAME vocab
        # formula as EVAL_WIDE_QUERIES extended to 500 qids (vec ids
        # 0..499 all exist at sf0.1); wall must grow ≲ linearly in |Q|
        # with plan width flat — the engine's per-topic state is data
        # rows, never columns.
        from kafka_error_handling_spark.datapipe.ranking import (
            _EVAL_VOCAB,
            search_eval_macro,
        )

        topics = [
            (
                [
                    _EVAL_VOCAB[(7 * i + 3 * j) % len(_EVAL_VOCAB)]
                    for j in range(2 + i % 3)
                ],
                i,
            )
            for i in range(500)
        ]
        d = _replicate(docs, n, {"doc_id": DOC_SHIFT})
        e = _replicate(emb, n, {"vec_id": VEC_SHIFT})
        search_eval_macro(d, e, topics).count()

    def ccnet(n):
        # CCNet bucketing (r14): the reference slice is a fixed FRACTION
        # of the corpus, so the count tables grow N× alongside the doc
        # stream — every join stays (lang, ngram)-keyed and linear; the
        # per-language ntile runs over narrow (doc, score) rows.  Wall
        # must scale with the explode/agg passes, never quadratically.
        from kafka_error_handling_spark.datapipe.text import ccnet_buckets

        df = _replicate(docs, n, {"doc_id": DOC_SHIFT})
        ccnet_buckets(df).count()

    def mrl(n):
        # Matryoshka truncated retrieval (r14): fixed query set against
        # the replicated corpus under first-16-dims cosine — the slice
        # happens in the scan projection, so wall must scale with the
        # corpus scan at ~1/4 the float work of the full-dim `embed`
        # family, never with queries × queries
        from kafka_error_handling_spark.datapipe.similarity import (
            MRL_DIM,
            knn_bruteforce,
        )

        df = _replicate(emb, n, {"vec_id": VEC_SHIFT}).select(
            "vec_id", F.slice(F.col("embedding"), 1, MRL_DIM).alias("embedding")
        )
        q = emb.filter(F.col("vec_id") < 10).select(
            "vec_id", F.slice(F.col("embedding"), 1, MRL_DIM).alias("embedding")
        )
        knn_bruteforce(df, q, k=5).count()

    def qnb(n):
        # NB quality-classifier selection: like dsir, the training sketch
        # is FIXED at <=4097 rows however large the corpus — wall must
        # scale with the two feature scans (train sketch + scoring),
        # never with corpus x corpus
        from kafka_error_handling_spark.datapipe.sampling import quality_nb_select

        df = _replicate(docs, n, {"doc_id": DOC_SHIFT})
        quality_nb_select(df).count()

    def dsir(n):
        # DSIR importance selection: the bucket distribution table is
        # FIXED at 4096 rows however large the corpus — wall must scale
        # with the two feature scans only
        from kafka_error_handling_spark.datapipe.sampling import dsir_importance

        df = _replicate(docs, n, {"doc_id": DOC_SHIFT})
        dsir_importance(df).count()

    return {
        "graph": graph,
        "basket": basket,
        "cc": cc,
        "dedup": dedup,
        "text": text,
        "embed": embed,
        "minhash": minhash,
        "decontam": decontam,
        "prf": prf,
        "dsir": dsir,
        "qnb": qnb,
        "searcheval": searcheval,
        "searchevalwide": searchevalwide,
        "searchevalwide500": searchevalwide500,
        "ccnet": ccnet,
        "mrl": mrl,
    }


FAMILY_NAMES = (
    "graph", "basket", "cc", "dedup", "text", "embed", "minhash", "decontam",
    "prf", "dsir", "qnb", "searcheval", "searchevalwide",
    "searchevalwide500", "ccnet", "mrl",
)


def _git_sha() -> str:
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def main():
    args = sys.argv[1:]
    # reject typos BEFORE Spark startup — an unknown family must not
    # silently fall back to running all families (ADVICE r5)
    unknown = [a for a in args if not a.isdigit() and a not in FAMILY_NAMES]
    if unknown:
        print(
            f"unknown family {unknown}; usage: stress.py [N] "
            f"[{' '.join(FAMILY_NAMES)} ...]",
            file=sys.stderr,
        )
        sys.exit(2)
    n = int(args[0]) if args and args[0].isdigit() else 10
    from session import build_session

    # Shuffle partitions must scale with the data, exactly as a real
    # deployment sizes them: pinned at 64, the N=300 graph leg OOMed in
    # an SMJ sort (each of 64 partitions outgrew its share of execution
    # memory across 32 concurrent tasks — UNABLE_TO_ACQUIRE_MEMORY),
    # while N<=100 fit.  2*N keeps per-partition sort footprint roughly
    # constant as N grows; AQE coalesces the excess at small N.
    shuffle_parts = max(64, 2 * n)

    spark = build_session(
        "keh-stress",
        32,
        # single-JVM local mode: driver heap IS the cluster's total
        # memory.  24g covers N<=100; the N=300 graph leg additionally
        # needs the ~360M-edge memo artifact resident (heap OOM in
        # MemoryStore re-caching it from disk at 24g) — overridable so
        # extreme-N probes can use the machine's actual RAM.
        driver_memory=os.environ.get("KEH_STRESS_DRIVER_MEM", "24g"),
        conf={
            "spark.sql.shuffle.partitions": str(shuffle_parts),
            # every _replicate output carries a 1x static size estimate
            # (Generate doesn't scale sizeInBytes), so any IMPLICIT
            # broadcast decision in this session is based on a
            # deliberately false size; disable it (explicit F.broadcast
            # hints in gate code still fire).  A real Nx corpus has true
            # scan stats and never hits this.
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    fams = _families(spark)
    assert tuple(fams) == FAMILY_NAMES
    picked = [a for a in args if a in fams] or list(fams)
    out = {}
    for name in picked:
        fn = fams[name]
        fn(1)  # warm plan compilation off the measurement
        t0 = time.time()
        fn(1)
        base = time.time() - t0
        t0 = time.time()
        fn(n)
        big = time.time() - t0
        out[name] = {
            "x1_s": round(base, 2),
            f"x{n}_s": round(big, 2),
            "ratio": round(big / base, 2) if base > 0 else None,
        }
    line = json.dumps(
        {
            "metric": "stress",
            "n": n,
            "sf_dir": SF_DIR,
            "git_sha": _git_sha(),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "families": out,
        }
    )
    print(line)
    # append to the (gitignored) local run ledger; the per-round N=30
    # lines are quoted verbatim into docs/SCALE.md as the durable record
    runs_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, "stress.jsonl"), "a") as f:
        f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
