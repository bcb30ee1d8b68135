"""Scale probe: run the core operator families on synthetic data 10-50×
the bench scale and report rows/sec, so "would this plan survive a
scale-up" is measured, not asserted. Writes nothing outside /tmp.

    python tools/scale_probe.py [--events N] [--docs N]

Prints one JSON line per probe: {probe, rows, sec, rows_per_sec}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_processor_cosmos_tx_dispatch_spark.session import get_spark

WORKDIR = "/tmp/spark_scale_probe"


def _events(spark, n: int):
    """Seeded synthetic events mirroring the testdata schema."""
    types = F.array(*[F.lit(t) for t in ("click", "view", "purchase", "error", "signup")])
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1704067200000000) + (F.col("id") % 2_592_000) * 1_000_000
        ).alias("ts"),
        (F.xxhash64(F.col("id")) % 5000).alias("user_id"),
        F.element_at(types, ((F.col("id") % 5) + 1).cast("int")).alias("event_type"),
        ((F.abs(F.xxhash64(F.col("id"), F.lit(1))) % 20000) / 100.0).alias("value"),
        F.concat(
            F.lit('{"k": '), (F.abs(F.xxhash64(F.col("id"), F.lit(2))) % 100), F.lit("}")
        ).alias("props"),
    )


def _docs(spark, n: int):
    """Seeded synthetic documents: ~60 pseudo-random word tokens each."""
    word = lambda seed: F.concat(  # noqa: E731
        F.lit("w"), (F.abs(F.xxhash64(F.col("id"), F.lit(seed))) % 500)
    )
    text = F.concat_ws(" ", *[word(s) for s in range(60)])
    return spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))


def _vecs(spark, n: int):
    """Seeded synthetic embeddings: 64-dim float vectors."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda d: ((F.xxhash64(F.col("id"), d) % 2000) / 1000.0).cast(
                "float"
            ),
        ).alias("embedding"),
    )


_ONLY: set[str] | None = None  # --only filter; None = run everything


def probe(name: str, rows: int, fn) -> dict | None:
    if _ONLY is not None and name not in _ONLY:
        return None
    dt = float("inf")
    for _ in range(2):  # min-of-2, matching bench.py's convention
        t0 = time.perf_counter()
        fn()
        dt = min(dt, time.perf_counter() - t0)
    out = {
        "probe": name,
        "rows": rows,
        "sec": round(dt, 2),
        "rows_per_sec": int(rows / dt),
    }
    print(json.dumps(out), flush=True)
    return out


def main() -> None:
    global _ONLY
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=5_000_000)
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--vecs", type=int, default=50_000)
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated probe names to run (others skipped; "
        "synthetic inputs are still generated)",
    )
    args = ap.parse_args()
    if args.only:
        _ONLY = set(args.only.split(","))

    shutil.rmtree(WORKDIR, ignore_errors=True)
    os.makedirs(WORKDIR, exist_ok=True)
    spark = get_spark(app_name="scale-probe")

    ev_path = f"{WORKDIR}/events"
    _events(spark, args.events).write.mode("overwrite").parquet(ev_path)
    docs_path = f"{WORKDIR}/docs"
    _docs(spark, args.docs).write.mode("overwrite").parquet(docs_path)
    ev = spark.read.parquet(ev_path)
    docs = spark.read.parquet(docs_path)

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    # dispatch: full rule evaluation + multicast on parquet input
    from kafka_processor_cosmos_tx_dispatch_spark.operators import dispatch as dsp
    from kafka_processor_cosmos_tx_dispatch_spark.queries import EVENT_RULES

    rec = F.struct(
        F.col("event_type"),
        F.col("value"),
        F.struct(
            F.get_json_object("props", "$.k").cast("int").alias("k")
        ).alias("props"),
    )
    probe(
        "dispatch_parquet",
        args.events,
        lambda: run(dsp.dispatch(ev.withColumn("rec", rec), EVENT_RULES, struct_col="rec")),
    )

    # full reference pipeline at generator scale through route():
    # Arrow-batched txgen → Python decode with every rule evaluated on
    # the decoded dict (no re-parse, no second Arrow hop for the tx_json
    # text) → multicast → per-topic value. This is the engine's slowest
    # honest path (decode cannot run JVM-side in this container); the
    # probe pins its rows/sec so a regression in the Python stage is
    # measured, not guessed.
    from kafka_processor_cosmos_tx_dispatch_spark.rules import DispatchRule
    from kafka_processor_cosmos_tx_dispatch_spark.sources import txgen as txg

    txg.register(spark)
    tx_rules = [
        DispatchRule(
            "by-type",
            "topic-1",
            f"$.body.messages[?(@.@type == '{txg.MSG_SEND_URL}')]",
        ),
        DispatchRule(
            "by-from",
            "topic-2",
            f"$..messages[?(@.fromAddress == '{txg.OKP4_ADDR}')]",
        ),
    ]
    n_tx = args.events // 2
    tx_src = (
        spark.read.format("cosmos_tx_gen")
        .option("n", n_tx)
        .option("partitions", 32)
        .load()
    )
    probe(
        "decode_dispatch_fused",
        n_tx,
        lambda: run(dsp.route(tx_src, tx_rules, error_topic="errors")),
    )

    # tumbling window agg (batch analog of the streaming window)
    probe(
        "window_agg",
        args.events,
        lambda: run(
            ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(12,2)")).alias("s"),
            )
        ),
    )

    # as-of join: purchases vs clicks
    from kafka_processor_cosmos_tx_dispatch_spark.operators.asof import asof_join

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    probe(
        "asof_join",
        args.events * 2 // 5,
        lambda: run(
            asof_join(
                purchases, clicks, keys=["user_id"], ts_col="ts",
                right_value_cols=["click_id"], tiebreak_col="click_id",
            )
        ),
    )

    # MinHash+LSH candidate pairs over synthetic docs
    from kafka_processor_cosmos_tx_dispatch_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    probe("minhash_lsh", args.docs, lambda: run(minhash_lsh_pairs(docs)))

    # block-tiled exact near-dup: quadratic work spread over B²/2 bounded
    # tasks — the probe verifies throughput holds when B grows past one
    # broadcastable block (the round-1 design's failure point)
    from kafka_processor_cosmos_tx_dispatch_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    vecs_path = f"{WORKDIR}/vecs"
    _vecs(spark, args.vecs).write.mode("overwrite").parquet(vecs_path)
    vecs = spark.read.parquet(vecs_path)
    probe(
        "embedding_near_dup",
        args.vecs,
        lambda: run(embedding_near_dup_pairs(vecs, threshold=0.9)),
    )

    # radius retrieval: bounded query set broadcast, threshold filter
    # inside the corpus scan — per-row cost must match brute-force dot
    # products with NO window stage on top
    from kafka_processor_cosmos_tx_dispatch_spark.operators.similarity import (
        maxsim_multivector,
        range_search,
    )

    rs_queries = vecs.filter(F.col("vec_id") < 16)
    probe(
        "range_search_q16",
        args.vecs,
        lambda: run(range_search(rs_queries, vecs, threshold=0.8)),
    )

    # late-interaction MaxSim: corpus × 8 broadcast tokens → two keyed
    # aggs; throughput should be ~dot-product-bound like range search
    ms_tokens = vecs.filter(F.col("vec_id") < 8)
    ms_corpus = vecs.withColumn("label", (F.col("vec_id") % 1000).cast("int"))
    probe(
        "maxsim_8tok_1kdocs",
        args.vecs,
        lambda: run(maxsim_multivector(ms_tokens, ms_corpus)),
    )

    # IVF-PQ composed index: corpus → (codes, cell) in one Arrow pass,
    # search = cell equi-join vs broadcast ADC tables. Should beat
    # brute force per query by ~n_probe/n_cells on the join volume.
    from kafka_processor_cosmos_tx_dispatch_spark.operators.similarity import (
        ivfpq_topk,
    )

    probe(
        "ivfpq_q10_probe2",
        args.vecs,
        lambda: run(
            ivfpq_topk(
                vecs.filter(F.col("vec_id") < 10), vecs, n_probe=2
            )
        ),
    )

    # Misra-Gries-pruned exact heavy hitters over the events stream:
    # two scans, candidate set bounded by partitions×k
    from kafka_processor_cosmos_tx_dispatch_spark.operators.sketches import (
        misra_gries_candidates,
    )

    def mg_pipeline():
        cand = misra_gries_candidates(ev, "user_id", k=2048)
        counts = (
            ev.join(F.broadcast(cand), "user_id", "leftsemi")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        run(counts)

    probe("heavy_hitters_mg", args.events, mg_pipeline)

    # 2-D skyline at event scale: the partition-local sweep must keep
    # this linear — the quadratic NOT-EXISTS would never finish here
    from kafka_processor_cosmos_tx_dispatch_spark.operators.skyline import (
        skyline_2d,
    )

    probe(
        "skyline_2d",
        args.events,
        lambda: run(
            skyline_2d(
                ev.select(
                    F.col("value").alias("x"),
                    (F.col("user_id") % 1000).alias("y"),
                    F.col("event_id").alias("pid"),
                ),
                "x",
                "y",
                "pid",
            )
        ),
    )

    # corpus-statistics build + apply (unigram rarity): the SAME operator
    # the oracle-checked query uses (functions/text.py:token_rarity_scores)
    from kafka_processor_cosmos_tx_dispatch_spark.functions import text as TX

    probe(
        "token_rarity",
        args.docs,
        lambda: run(TX.token_rarity_scores(docs)),
    )

    # PageRank rounds over a synthetic power-law-ish edge graph: the SAME
    # operator the oracle-checked query uses (operators/graph.py:pagerank)
    from kafka_processor_cosmos_tx_dispatch_spark.operators.graph import pagerank

    n_edges = args.events // 5
    edges = spark.range(n_edges).select(
        (F.abs(F.xxhash64("id")) % 100_000).alias("src"),
        (F.abs(F.xxhash64("id", F.lit(7))) % (1 + F.col("id") % 1000)).alias("dst"),
    )
    probe("pagerank_3rounds", n_edges, lambda: run(pagerank(edges, rounds=3)))

    # bounded-hop BFS at the same edge scale: per-round cost must track
    # edges incident to the frontier, so 3 hops from a 1k-source set on
    # a 1M-edge graph is three keyed joins + anti-joins, not 3 full
    # traversals of a materialized distance table
    from kafka_processor_cosmos_tx_dispatch_spark.operators.graph import bfs_hops

    bfs_sources = spark.range(1_000).select(F.col("id").alias("node"))
    probe(
        "bfs_hops_r3",
        n_edges,
        lambda: run(bfs_hops(edges, bfs_sources, rounds=3)),
    )

    # two-level connected components on a chain-heavy pair graph — the
    # adversarial shape for label propagation (diameter = chain length,
    # where naive per-round propagation needs `diameter` rounds). Edges
    # are randomly partitioned and edges_per_partition forces ~16 local
    # union-find partitions, so chains fragment across partitions and the
    # cross-partition linker loop carries most of the merging — the
    # distributed path, not the single-partition shortcut.
    from kafka_processor_cosmos_tx_dispatch_spark.operators.dedup import (
        connected_components_twolevel,
    )

    n_pairs = args.events // 10
    chain_pairs = (
        spark.range(n_pairs)
        .select(F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
        .filter((F.col("id") % 100) != 99)  # chains of 100 nodes
        .repartition(64)  # random edge placement (the LSH-output reality)
    )
    probe(
        "connected_components",
        n_pairs,
        lambda: run(
            connected_components_twolevel(
                chain_pairs, edges_per_partition=max(1, n_pairs // 16)
            )
        ),
    )

    # star-graph CC: one super-node in >50% of edges (r5 verdict #6) —
    # the hub's edges land in every union-find partition, the linker
    # graph concentrates on one node, and the min-aggregation must
    # absorb it without a monster reducer
    n_star = args.events // 20
    star_pairs = (
        spark.range(n_star)
        .select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.col("id") * 2)
            .alias("doc_a"),
            (F.col("id") * 2 + 1).alias("doc_b"),
        )
        .repartition(64)
    )
    probe(
        "connected_components_star",
        n_star,
        lambda: run(
            connected_components_twolevel(
                star_pairs, edges_per_partition=max(1, n_star // 16)
            )
        ),
    )

    # k-means at curation-scale k=256 (r5 verdict #3): forces the
    # broadcast-data-bank assignment tier (k*dims = 16384 cells > the
    # literal ceiling), 2 Lloyd rounds + final labeling
    from kafka_processor_cosmos_tx_dispatch_spark.operators.similarity import (
        kmeans_assign,
    )

    probe(
        "kmeans_k256",
        args.vecs,
        lambda: run(kmeans_assign(vecs, k=256, rounds=2)),
    )

    # semantic dedup at curation-scale k: the per-cluster pair join must
    # stay bounded (~(n/k)² per cluster), so runtime should track n²/k —
    # k=256 over the probe corpus keeps expected cluster size ~n/256
    from kafka_processor_cosmos_tx_dispatch_spark.operators.similarity import (
        power_iteration_top_component,
        semantic_dedup_drops,
    )

    probe(
        "semantic_dedup_k256",
        args.vecs,
        lambda: run(
            semantic_dedup_drops(vecs, k=256, rounds=1, threshold=0.9)
        ),
    )

    # power iteration: 3 rounds, each one dims-cell aggregation pass —
    # runtime should be ~3 linear scans regardless of dims' tiny agg
    probe(
        "power_iteration_r3",
        args.vecs,
        lambda: run(power_iteration_top_component(vecs, rounds=3)),
    )

    # exact-substring dedup at corpus scale: on a random-token corpus
    # almost no 8-token shingle repeats, so the df-prune (2 ≤ df ≤ cap)
    # should discard nearly the whole shingle stream BEFORE the
    # self-join — the probe pins that the cost is the shingle scan +
    # one count agg, not pair generation
    from kafka_processor_cosmos_tx_dispatch_spark.operators.dedup import (
        exact_substring_pairs,
    )

    probe(
        "exact_substring_dedup",
        args.docs,
        lambda: run(exact_substring_pairs(docs, min_tokens=8)),
    )

    # passage-granularity LSH: ~2 passages/doc (60-token docs, 32-token
    # chunks) — should track minhash_lsh's rows/s on the ~2× passage
    # stream, since per-corpus-byte signature work is unchanged
    from kafka_processor_cosmos_tx_dispatch_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    def passage_lsh():
        t = TX.tokens(F.col("text"))
        n_chunks = (
            (F.greatest(F.size(F.col("t")) - 32, F.lit(0)) + 31)
            .cast("long")
            / 32
        ).cast("long") + 1
        b = (
            docs.select("doc_id", t.alias("t"))
            .select(
                "doc_id",
                "t",
                F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("ci"),
            )
        )
        passages = b.select(
            (F.col("doc_id") * 1000 + F.col("ci")).alias("pid"),
            F.concat_ws(
                " ", F.slice(F.col("t"), F.col("ci") * 32 + 1, 32)
            ).alias("text"),
        )
        run(minhash_lsh_pairs(passages, id_col="pid"))

    probe("passage_lsh_dedup", args.docs, passage_lsh)

    # BPE trainer (4 unrolled iterations): cost should be ONE corpus
    # scan (the wf agg, AQE-reused across the union's branches) + 4
    # vocab-bounded iteration passes — runtime barely above the corpus
    # scan, independent of iterations×corpus. Reuses the REGISTERED
    # query via a sf_dir-shaped scratch layout so the probe measures
    # the exact shipped plan.
    bpe_dir = f"{WORKDIR}/bpe_sf"
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("probe")
    ).withColumn("n_chars", F.length("text")).write.mode(
        "overwrite"
    ).parquet(f"{bpe_dir}/documents.parquet")
    from kafka_processor_cosmos_tx_dispatch_spark.queries import queries as _q

    probe(
        "bpe_train_4iters",
        args.docs,
        lambda: run(_q()["text_bpe_train"](spark, bpe_dir)),
    )

    # per-source token-budget domain cap: one window over a source-keyed
    # shuffle — rows/s should track the plain tokenize scan, independent
    # of the number of sources (64 here)
    cap_dir = f"{WORKDIR}/cap_sf"
    docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.concat(F.lit("s"), F.col("doc_id") % 64)
    ).withColumn("n_chars", F.length("text")).write.mode(
        "overwrite"
    ).parquet(f"{cap_dir}/documents.parquet")
    probe(
        "domain_cap",
        args.docs,
        lambda: run(_q()["sample_domain_cap"](spark, cap_dir)),
    )

    # mutual-kNN margin mining is quadratic in the side sizes BY DESIGN
    # (exact miner; the scale path shards it per IVF cell) — probe at a
    # fixed 4k×4k to pin the pair-scoring throughput (pairs/s), not to
    # claim linear corpus scaling
    from kafka_processor_cosmos_tx_dispatch_spark.operators.similarity import (
        mutual_knn_margin,
    )

    mk_n = 8_000
    mk = _vecs(spark, mk_n)
    probe(
        "mutual_knn_4k_x_4k",
        (mk_n // 2) * (mk_n // 2),
        lambda: run(
            mutual_knn_margin(
                mk.filter(F.col("vec_id") % 2 == 0),
                mk.filter(F.col("vec_id") % 2 == 1),
                k=4,
            )
        ),
    )

    # HITS (2 rounds): per half-step one edges⋈scores equi-join + keyed
    # agg — should track pagerank_3rounds' edges/s on the same graph
    from kafka_processor_cosmos_tx_dispatch_spark.operators.graph import hits

    probe("hits_2rounds", n_edges, lambda: run(hits(edges, rounds=2)))

    # personalized PageRank: same per-round join+agg as pagerank plus a
    # broadcast seed flag — edges/s should track pagerank_3rounds
    from kafka_processor_cosmos_tx_dispatch_spark.operators.graph import (
        personalized_pagerank,
    )

    ppr_seeds = spark.range(0, 100_000, 50).select(F.col("id").alias("node"))
    probe(
        "ppr_3rounds",
        n_edges,
        lambda: run(personalized_pagerank(edges, ppr_seeds, rounds=3)),
    )

    # streaming heavy hitters: fold the event stream through 4 carried
    # MG merges + the final candidate recount — per-batch cost is the
    # batch's keyed partial agg; total should track a plain groupBy
    from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
        make_heavy_hitter_batch,
    )

    def stream_hh():
        import shutil as _sh

        workdir = f"{WORKDIR}/shh"
        _sh.rmtree(workdir, ignore_errors=True)
        body = make_heavy_hitter_batch(workdir, 2048, {"bid": None, "path": None})
        ev = _events(spark, args.events).select("event_id", "user_id")
        for bid in range(4):
            body(
                ev.filter(F.col("event_id") % 4 == bid).select("user_id"),
                bid,
            )

    probe("streaming_heavy_hitters_4batches", args.events, stream_hh)

    # scene cuts: one Arrow frame-feature pass + a doc-keyed lag window
    # — rows/s should track the other multimodal Arrow passes
    from kafka_processor_cosmos_tx_dispatch_spark.operators.multimodal import (
        frame_features,
        with_binary_payload,
    )
    from pyspark.sql import Window as _W

    def scene_cuts():
        feats = frame_features(with_binary_payload(docs), frame=32)
        wd = _W.partitionBy("doc_id").orderBy("frame_idx")
        d0 = F.col("feat") - F.lag("feat").over(wd)
        run(
            feats.withColumn("d0", d0).select(
                "doc_id",
                "frame_idx",
                F.abs(F.col("d0")).alias("delta"),
            )
        )

    probe("scene_cuts", args.docs, scene_cuts)

    # r11: lexical-diversity stats — one exploded shuffle + two-level
    # agg; rows/s should track token_rarity (same explode volume)
    def lexical_stats():
        from kafka_processor_cosmos_tx_dispatch_spark.functions import text as TX2

        tf = (
            docs.select(
                "doc_id", F.explode(TX2.tokens(F.col("text"))).alias("tok")
            )
            .groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        run(
            tf.groupBy("doc_id").agg(
                F.sum("c").alias("words"),
                F.count(F.lit(1)).alias("distinct_toks"),
            )
        )

    probe("lexical_stats", args.docs, lexical_stats)

    # r11: per-seed labeled BFS (the closeness substrate) — state is
    # Σ per-seed reach, frontier joins keyed on node; 3 seeds × 2 hops
    # over the synthetic event bipartite graph
    from kafka_processor_cosmos_tx_dispatch_spark.operators.graph import (
        bfs_hops_labeled,
    )

    bfs_edges = ev.select(
        F.col("user_id").alias("src"),
        (F.lit(10_000_000) + F.col("event_id") % 5000).alias("dst"),
    ).distinct()
    bfs_seeds = spark.range(3).select(F.col("id").alias("node"))
    probe(
        "closeness_bfs_3seed_r2",
        args.events,
        lambda: run(bfs_hops_labeled(bfs_edges, bfs_seeds, rounds=2)),
    )

    # r11: temporal frame dedup — same Arrow pass as scene_cuts plus
    # the run-id window and rollup; the delta vs scene_cuts isolates
    # what the gaps-and-islands stage costs
    def frame_dedup():
        feats = frame_features(with_binary_payload(docs), frame=32)
        wd = _W.partitionBy("doc_id").orderBy("frame_idx")
        prev = F.lag("feat").over(wd)
        fresh = (
            F.when(prev.isNull() | (F.abs(F.col("feat") - prev) > 64), 1)
            .otherwise(0)
        )
        runs_df = feats.select(
            "doc_id", "frame_idx", fresh.alias("fresh")
        ).withColumn(
            "run_id",
            F.sum("fresh").over(
                wd.rowsBetween(_W.unboundedPreceding, _W.currentRow)
            ),
        )
        run(
            runs_df.groupBy("doc_id", "run_id").agg(
                F.min("frame_idx").alias("kept_frame"),
                F.count(F.lit(1)).alias("run_len"),
            )
        )

    probe("frame_dedup", args.docs, frame_dedup)

    # r12: deterministic weighted reservoir — priority is a row-local
    # HOF (≤4 md5s in-row), the bottom-k is TakeOrderedAndProject
    # (per-partition top-k + k-row driver merge): rows/s should track a
    # bare md5 scan of the corpus
    from kafka_processor_cosmos_tx_dispatch_spark.operators.sampling import (
        weighted_reservoir,
    )

    wr_src = ev.select(
        F.col("event_id").alias("doc_id"),
        (F.col("event_id") % 5).cast("int").alias("weight"),
    )
    probe(
        "weighted_reservoir",
        args.events,
        lambda: run(weighted_reservoir(wr_src, "weight", k=100)),
    )

    # r12: binary-quantization ANN — pack is one aggregate HOF per
    # 32-bit word inside the scan; distance is two XOR+popcounts per
    # candidate against 10 broadcast queries
    from kafka_processor_cosmos_tx_dispatch_spark.operators.similarity import (
        hamming_topk,
    )

    probe(
        "hamming_topk",
        args.vecs,
        lambda: run(
            hamming_topk(vecs.filter(F.col("vec_id") < 10), vecs, k=5)
        ),
    )

    # r12: NN-forest connected components — best-edge windows (node-
    # keyed) + pointer-jump CC rounds on the sparsified graph
    from kafka_processor_cosmos_tx_dispatch_spark.operators.dedup import (
        connected_components,
    )

    def nn_forest_cc():
        cs = (
            ev.groupBy(
                F.col("user_id").alias("c"),
                (F.col("event_id") % 5000).alias("s"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        wc = _W.partitionBy("c").orderBy(F.desc("n"), F.asc("s"))
        ws = _W.partitionBy("s").orderBy(F.desc("n"), F.asc("c"))
        bestc = cs.withColumn("rn", F.row_number().over(wc)).filter(
            F.col("rn") == 1
        )
        bests = cs.withColumn("rn", F.row_number().over(ws)).filter(
            F.col("rn") == 1
        )
        e0 = (
            bestc.select("c", "s").union(bests.select("c", "s")).distinct()
        )
        pairs = e0.select(
            F.col("c").alias("doc_a"),
            (F.lit(10_000_000) + F.col("s")).alias("doc_b"),
        )
        run(connected_components(pairs))

    probe("nn_forest_cc", args.events, nn_forest_cc)

    # r12: content-defined chunking — position explode is bounded by
    # doc length; the corpus-wide shuffles move 16-byte fingerprints,
    # never text
    def cdc_chunks():
        pos = docs.filter(F.length("text") >= 8).select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - F.lit(7))
            ).alias("i"),
        )
        bnd = pos.filter(
            F.substring(F.md5(F.expr("substring(text, i, 8)")), 1, 2) < "08"
        ).select("doc_id", (F.col("i") + 7).cast("long").alias("cut"))
        wd = _W.partitionBy("doc_id").orderBy("cut")
        kept = (
            bnd.withColumn("pc", F.lag("cut", 1, -7).over(wd))
            .filter(F.col("cut") - F.col("pc") >= 8)
            .select("doc_id", "cut")
        )
        cuts = kept.union(
            docs.select(
                "doc_id", F.length("text").cast("long").alias("cut")
            )
        ).distinct()
        spans = cuts.withColumn("prev", F.lag("cut", 1, 0).over(wd))
        chunks = spans.join(docs, "doc_id").select(
            "doc_id",
            F.md5(
                F.expr(
                    "substring(text, CAST(prev + 1 AS INT),"
                    " CAST(cut - prev AS INT))"
                )
            ).alias("fp"),
        )
        run(
            chunks.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n_occ"))
            .filter(F.col("n_occ") > 1)
        )

    probe("cdc_chunks", args.docs, cdc_chunks)

    # r12: deterministic random walks — 2,000 seeds x 4 steps over the
    # 5M-event bipartite graph; each step is one (node, rank) equi-join
    # against the checkpointed adjacency, so cost is frontier-linear
    def random_walks():
        cs = (
            ev.select(
                F.col("user_id").alias("src"),
                (F.lit(10_000_000) + F.col("event_id") % 5000).alias("dst"),
            )
            .distinct()
        )
        edges = cs.union(
            cs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        adj = edges.withColumn(
            "rnk",
            F.row_number().over(_W.partitionBy("src").orderBy("dst")),
        ).localCheckpoint()
        deg = adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        walk = deg.filter(F.col("src") < 2000).select(
            F.col("src").alias("seed"),
            F.col("src").alias("node"),
        )
        out = walk
        for i in range(4):
            pick = (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("node").cast("string"),
                                F.lit(i + 1).cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("deg")
            )
            walk = (
                walk.join(deg.withColumnRenamed("src", "node"), "node")
                .withColumn("rnk", (pick + 1).cast("int"))
                .join(
                    adj.select(
                        F.col("src").alias("node"),
                        F.col("dst").alias("next_node"),
                        "rnk",
                    ),
                    ["node", "rnk"],
                )
                .select("seed", F.col("next_node").alias("node"))
            )
            out = out.unionByName(walk)
        run(out)

    probe("random_walks_2kseed_4step", args.events, random_walks)

    # r11 backfill: PCA top-2 — two power iterations (four linear
    # passes + dims-cell aggs) plus the in-row Hotelling deflation;
    # should read ~2x the single-component power-iteration cost
    from kafka_processor_cosmos_tx_dispatch_spark.operators.similarity import (
        pca_top2_components,
    )

    vecs = _vecs(spark, args.vecs).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: (x / F.lit(2.0)).cast("float")
        ).alias("embedding"),
    )
    probe("pca_top2", args.vecs, lambda: run(pca_top2_components(vecs, rounds=2)))

    # r11 backfill: the two query-level document operators, run through
    # the REGISTERED query functions against a scaled documents table
    # with the testdata schema (so the probe exercises the exact plan
    # the bench measures, at 50x its doc count)
    from kafka_processor_cosmos_tx_dispatch_spark import queries as Q

    holdout_dir = f"{WORKDIR}/qdocs"
    docs.select(
        "doc_id",
        "text",
        F.element_at(
            F.array(F.lit("en"), F.lit("fr"), F.lit("de"), F.lit("es")),
            ((F.col("doc_id") % 4) + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src"), (F.col("doc_id") % 7)).alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    ).write.mode("overwrite").parquet(f"{holdout_dir}/documents.parquet")

    # six-stage eval-shard plan: df-capped substring index + banded LSH
    # + hash split + per-lang prefix window — the bounded-joins claim
    probe(
        "pipeline_eval_holdout",
        args.docs,
        lambda: run(Q.pipeline_eval_holdout(spark, holdout_dir)),
    )
    # speech-span x scene interval join: two doc-keyed shuffles + one
    # doc_id equi-join with interval residual
    probe(
        "multimodal_av_align",
        args.docs,
        lambda: run(Q.multimodal_av_align(spark, holdout_dir)),
    )

    # r11 backfill: arrival-monitor steady state — 4 ORDERED micro-batch
    # splits (the monitor fails loud on unordered bridges) over the 5M
    # events; per-batch cost = one lag window + full-outer state merge
    from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
        make_arrival_monitor_batch,
    )

    def arrival_monitor():
        import shutil as _sh

        workdir = f"{WORKDIR}/sarr"
        _sh.rmtree(workdir, ignore_errors=True)
        body = make_arrival_monitor_batch(workdir, {"bid": None, "path": None})
        src = ev.select("user_id", "event_id", "ts")
        span = 2_592_000 // 4
        for bid in range(4):
            body(
                src.filter(
                    (F.col("event_id") % 2_592_000).between(
                        bid * span, (bid + 1) * span - 1
                    )
                ),
                bid,
            )

    probe("arrival_monitor_4batches", args.events, arrival_monitor)

    # r12 session 2: paragraph dedup (fingerprint hash-agg + reassembly),
    # DSIR weights (4096-row broadcast model), sampled betweenness
    # (labeled BFS + backward dependency sweep)
    from kafka_processor_cosmos_tx_dispatch_spark.operators.dedup import (
        paragraph_dedup,
    )
    from kafka_processor_cosmos_tx_dispatch_spark.operators.graph import (
        betweenness_sampled,
    )
    from kafka_processor_cosmos_tx_dispatch_spark.operators.sampling import (
        dsir_weights,
    )

    probe("paragraph_dedup", args.docs, lambda: run(paragraph_dedup(docs)))
    probe(
        "dsir_weights",
        args.docs,
        lambda: run(dsir_weights(docs, target=F.col("doc_id") % 4 == 0)),
    )

    def betweenness():
        cs = ev.select(
            F.col("user_id").alias("src"),
            (F.lit(10_000_000) + F.col("event_id") % 5000).alias("dst"),
        ).distinct()
        # between(0, 4), NOT < 5: the synthetic user_id is a SIGNED hash
        # residue, so `< 5` would admit every negative id — ~5,000 seeds
        # instead of 5 (found the hard way: the labeled-BFS state went
        # seeds-linear as documented and 5,000 seeds spilled the disk)
        seeds = cs.select(F.col("src").alias("node")).filter(
            F.col("node").between(0, 4)
        )
        run(betweenness_sampled(cs, seeds, rounds=3))

    probe("betweenness_5seed_3hop", args.events, betweenness)

    # r13: the trained quality classifier — 3 preconditioned steps over
    # 100k docs (10-50× bench). The h preconditioner makes the step
    # corpus-size-invariant; the probe pins the wall cost of the T+1
    # corpus scans + per-step 513-row gradient aggs.
    def quality_train_probe():
        from kafka_processor_cosmos_tx_dispatch_spark.operators.quality import (
            quality_train,
        )

        label = F.col("doc_id") % 5 == 0  # ~20% positives
        run(quality_train(docs, label, buckets=512))

    probe("quality_train_3steps", args.docs, quality_train_probe)

    # r13: Gopher repetition rules — the heaviest row-local text op
    # (modal-run folds over 4 sorted gram arrays per doc); the probe
    # pins docs/sec of the interpreted-HOF compute at 20× bench scale.
    def gopher_rep_probe():
        import tempfile

        from kafka_processor_cosmos_tx_dispatch_spark import queries as Q

        d = tempfile.mkdtemp(prefix="rep_probe_", dir=WORKDIR)
        docs.select(
            "doc_id", "text", F.lit("en").alias("lang"),
            F.lit("probe").alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        run(Q.queries()["text_gopher_repetition"](spark, d))

    probe("gopher_repetition", args.docs, gopher_rep_probe)

    # r15: the winnow-extended funnel (four-generator yield dashboard —
    # the a..d counts are ONE flags pass; winnow drop set PlanCache'd)
    # and the grouped sampled-PQ trainer (one subspace-keyed Lloyd
    # chain + ONE posexploded corpus apply pass)
    from kafka_processor_cosmos_tx_dispatch_spark.queries.dedup import (
        _FUNNEL_WINNOW_CACHE,
        _funnel_report,
    )
    from kafka_processor_cosmos_tx_dispatch_spark.queries.sim import (
        _PQ_SAMPLE_CACHE,
        _pq_train_sampled_body,
    )

    def funnel_probe():
        run(_funnel_report(docs))
        _FUNNEL_WINNOW_CACHE.evict()  # min-of-2 must both pay the chain

    probe("dedup_funnel_winnow", args.docs, funnel_probe)

    pq_vecs = spark.read.parquet(vecs_path)  # file-backed, like the query

    def pq_sampled_probe():
        run(_pq_train_sampled_body(pq_vecs))
        _PQ_SAMPLE_CACHE.evict()

    probe("pq_train_sampled_grouped", args.vecs, pq_sampled_probe)

    # r15: sampled betweenness on a disjoint-range bipartite graph at
    # ~4x the sf0.1 undirected edge count, driven exactly like the
    # query (symmetrize_distinct=False — the dedup-shuffle-free
    # symmetrization): forward state must stay O(seeds x reach) and
    # the backward sweep O(successor pairs), so the reading should
    # scale with edges, not quadratically with reach
    from kafka_processor_cosmos_tx_dispatch_spark.operators.graph import (
        betweenness_sampled,
        triangle_count,
    )

    n_bip = args.events // 5 * 2
    bip_edges = spark.range(n_bip).select(
        (F.abs(F.xxhash64("id")) % 150_000).alias("src"),
        (F.lit(10_000_000) + F.abs(F.xxhash64("id", F.lit(3))) % 10_000).alias(
            "dst"
        ),
    ).distinct()
    btw_seeds = spark.range(4).select(F.col("id").alias("node"))
    probe(
        "betweenness_4seed_r3",
        n_bip,
        lambda: run(
            betweenness_sampled(
                bip_edges, btw_seeds, rounds=3, symmetrize_distinct=False
            )
        ),
    )

    # r15: degree-oriented triangle count on a skewed canonical edge
    # set (~2x the query's co-purchase graph scale, hub degrees up to
    # ~1k): wedge fan-out must stay bounded by the orientation's
    # O(sqrt(E)) out-degree, and the up-front edge materialization
    # keeps the caller-side subplan from re-evaluating across the
    # operator's ~9 self-references
    n_tri = args.events // 10
    tri_edges = (
        spark.range(n_tri)
        .select(
            (F.abs(F.xxhash64("id")) % (1 + F.col("id") % 5_000)).alias("a"),
            (F.abs(F.xxhash64("id", F.lit(11))) % 20_000).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("s1"), F.greatest("a", "b").alias("s2")
        )
        .distinct()
    )
    probe("triangle_count_skewed", n_tri, lambda: run(triangle_count(tri_edges)))

    # ------------------------------------------------------------------
    # r16 (VERDICT r15 item 5): the streaming and DSIR families at scale.
    # The c8-beats-c32 inversion proved sf0.1 seconds cannot support any
    # parallelism claim for these; multi-batch probes at 20-50x are the
    # only honest evidence.
    # ------------------------------------------------------------------

    # stream-stream join through the REAL streaming engine (watermarked
    # symmetric hash join state), 4 genuine micro-batches via a 4-file
    # input + maxFilesPerTrigger=1 — not a foreachBatch fold, so the
    # state-store build/commit cost per batch is in the measurement.
    from kafka_processor_cosmos_tx_dispatch_spark.streaming.dispatch import (
        file_stream_reader,
    )

    ev4_path = f"{WORKDIR}/events4"
    _events(spark, args.events).repartition(4).write.mode("overwrite").parquet(
        ev4_path
    )
    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )

    def stream_stream_join():
        import uuid as _uuid

        stream = file_stream_reader(
            spark, f"{ev4_path}/*.parquet", ev_schema, max_files_per_trigger=1
        )
        p = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "40 days")
        )
        c = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "40 days")
        )
        j = p.join(
            c,
            F.expr(
                "p_user = c_user AND c_ts >= p_ts - interval 1 hour"
                " AND c_ts <= p_ts"
            ),
        )
        name = f"ssj_{_uuid.uuid4().hex[:10]}"
        q = (
            j.select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
            .writeStream.format("noop")
            .queryName(name)
            .option("checkpointLocation", f"{WORKDIR}/ssj_ckpt_{name}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    probe("stream_stream_join_4batches", args.events, stream_stream_join)

    # DSIR batch operator at 20x bench corpus: hashed-bigram bucket model
    # + per-doc score — the quadratic risk is the bigram explode, the
    # probe pins it linear
    from kafka_processor_cosmos_tx_dispatch_spark.operators.sampling import (
        dsir_weights,
    )

    probe(
        "dsir_weights_batch",
        args.docs,
        lambda: run(dsir_weights(docs, target=F.col("lang") == "en"))
        if "lang" in docs.columns
        else run(
            dsir_weights(
                docs.withColumn(
                    "lang",
                    F.when(F.col("doc_id") % 3 == 0, "en").otherwise("de"),
                ),
                target=F.col("lang") == "en",
            )
        ),
    )

    # streaming DSIR twin: 4 real carried-model merges via the
    # foreachBatch body (the per-batch cost is the bucket-count
    # full-outer merge + the feature-archive write), then the drain join
    from kafka_processor_cosmos_tx_dispatch_spark.streaming.incremental import (
        dsir_drained,
        make_dsir_batch,
    )

    def stream_dsir():
        import shutil as _sh

        workdir = f"{WORKDIR}/sdsir"
        _sh.rmtree(workdir, ignore_errors=True)
        d = docs.withColumn(
            "lang", F.when(F.col("doc_id") % 3 == 0, "en").otherwise("de")
        )
        body = make_dsir_batch(workdir, 4096, {"bid": None, "path": None})
        for bid in range(4):
            body(d.filter(F.col("doc_id") % 4 == bid), bid)
        run(dsir_drained(spark, workdir))

    probe("streaming_dsir_4batches", args.docs, stream_dsir)

    spark.stop()
    shutil.rmtree(WORKDIR, ignore_errors=True)


if __name__ == "__main__":
    main()
