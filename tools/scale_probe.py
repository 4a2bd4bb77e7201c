"""Scale probe: verify the dedup/ANN tier's cost grows sub-quadratically
in practice, not just in plan shape.

Three modes:

- ``python tools/scale_probe.py [multiplier] [sf_dir]`` — replicate the
  documents corpus N× and run the dedup stack on it: cost must scale
  with output-pair count, not corpus², and nothing cliffs (OOM /
  single-task collapse).
- ``python tools/scale_probe.py curve [query ...]`` — run registry
  queries at every available sf dir (sf0.001/sf0.01/sf0.1), time a WARM
  run of each (second execution, so Catalyst/codegen compile noise is
  excluded), and fit the scaling exponent b in t ≈ a·n^b by
  least-squares over log t vs log n. b < 2 on a 100× input range is the
  empirical sub-quadratic evidence for the LSH/IVF paths (an exact
  all-pairs op would show b → 2 as n² work dominates fixed overhead).
- ``python tools/scale_probe.py synth [n n ...]`` (default 500 5000
  50000) — VERDICT r3 #4: the testdata documents table only spans
  500→5,000 rows, so curve-mode exponents were dominated by fixed
  overhead. This mode GENERATES a deterministic corpus at each n
  entirely inside Spark (hash-derived words, no RNG state, ~1/3 of
  docs are near-dup variants so the LSH paths have real work),
  persists nothing outside /tmp, and fits the exponent across two
  orders of magnitude for each dedup/ANN operator.

Prints one JSON line per operator/query.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from data_spark.operators.dedup import (  # noqa: E402
    blocked_edit_pairs,
    containment_pairs,
    exact_duplicate_groups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    sorted_neighborhood_pairs,
)
from data_spark.session import get_spark  # noqa: E402

#: table whose row count is the "n" of each curve query
_CURVE_DEFAULTS = {
    "d_ngram_jaccard": "documents",
    "d_minhash_lsh": "documents",
    "d_embed_near_dup_lsh": "embeddings",
    "v_ivf_topk": "embeddings",
    # ranking tier (round 3): the inverted-index joins must grow with
    # posting-list volume, not corpus²; PCA is one pass + O(d²) merge
    "d_tfidf_topterms": "documents",
    "d_bm25_search": "documents",
    "v_tfidf_cosine_pairs": "documents",
    "v_pca_project": "embeddings",
    # round-5 additions: RA link prediction grows with Σdeg² over the
    # edge table; the rest are linear scans/windows by construction
    "g_resource_alloc": "lineitem",
    "e_cusum_changepoint": "events",
    "d_quality_classifier": "documents",
    "v_hamming_topk": "documents",
    # round-7 additions: rank windows / folds / selection must stay
    # ~linear in their fact table; DSIR is tokenize-once + fixed
    # feature space; quantile normalize rides the two-phase rank
    "a_spearman_rank": "lineitem",
    "dq_skew_profile": "lineitem",
    "e_holt_winters": "events",
    "e_burst_detect": "events",
    "e_kaplan_meier": "events",
    "d_dsir_select": "documents",
    "d_quantile_normalize": "documents",
    "a_anova_f": "events",
    # round-8 additions (VERDICT r8 #5): Adamic-Adar's pair fan-out is
    # the data-dependent one (Σdeg² under the deg<=50 hub cutoff over
    # the lineitem-derived edges); Katz is 3 fixed join rounds; the
    # rest are windows/folds/aggregates that must stay ~linear in
    # their fact table
    "g_adamic_adar": "lineitem",
    "g_katz_centrality": "lineitem",
    "d_dedup_canonical": "documents",
    "d_vocab_coverage": "documents",
    "e_sax_symbolize": "events",
    "e_decayed_engagement": "events",
    "a_cohens_kappa": "orders",
    "a_benjamini_hochberg": "events",
    # round-9 additions: store gates are O(batch) commit work; the
    # stream join is micro-batch-scheduling bound; kNN's candidate
    # volume rides cell occupancy (q/20 of n, 9 cells each)
    "m_wap_publish": "orders",
    "m_partition_evolution": "events",
    "pipe_stream_join_e2e": "events",
    "a_mcnemar_test": "documents",
    "v_bq_rerank": "embeddings",
    "s_knn_grid_join": "customer",
    # round-10 additions: the store gates are O(batch) commit work plus
    # fixed numbers of maintenance passes; the BQ index probe is the
    # word-code sibling of v_bq_rerank (codes scan is |C|·words ints)
    "m_merge_upsert": "orders",
    "m_optimize_incremental": "events",
    "v_bq_index_probe": "embeddings",
    # round-11 additions: the CDF gate's pre-image recovery is pruned
    # by commit-time tombstone bounds (O(changed files), see cdf mode);
    # the stream-source drain scales with the drained slice (see
    # stream_source mode for the structural no-driver-rows evidence)
    "m_change_feed": "orders",
    "pipe_stream_source_e2e": "events",
    "m_multi_prune_scan": "orders",
}


def curve(queries: list[str]) -> None:
    from data_spark.queries import QUERIES  # noqa: PLC0415

    sf_dirs = [
        d
        for d in (
            "/root/testdata/sf0.001",
            "/root/testdata/sf0.01",
            "/root/testdata/sf0.1",
        )
        if os.path.isdir(d)
    ]
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    for name in queries:
        n_table = _CURVE_DEFAULTS.get(name, "documents")
        points = []
        for sf_dir in sf_dirs:
            n = spark.read.parquet(f"{sf_dir}/{n_table}.parquet").count()
            fn = QUERIES[name]
            fn(spark, sf_dir).count()  # cold run: pay compile once
            start = time.perf_counter()
            rows = fn(spark, sf_dir).count()  # warm run is the datapoint
            points.append(
                {
                    "sf_dir": os.path.basename(sf_dir),
                    "n": n,
                    "rows_out": rows,
                    "warm_sec": round(time.perf_counter() - start, 4),
                }
            )
        # least-squares slope of log(t) vs log(n)
        xs = [math.log(p["n"]) for p in points]
        ys = [math.log(max(p["warm_sec"], 1e-4)) for p in points]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        denom = sum((x - mx) ** 2 for x in xs)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom
        print(
            json.dumps(
                {
                    "query": name,
                    "points": points,
                    "scaling_exponent": round(slope, 3),
                }
            ),
            flush=True,
        )


_SYNTH_VOCAB = 2000
_SYNTH_WORDS = 40
_SYNTH_DIM = 64


def _synth_documents(spark, n: int):
    """Deterministic synthetic corpus: doc i's word at position p is
    vocab[xxhash64(group, p) % V], where group = i // 3 — so docs come
    in 3-variant clusters: variant 0 is the base, variant 2 is an EXACT
    clone (work for exact dedup), and variant 1 mutates its first two
    positions (a near-dup for the shingle/LSH paths). Hash-derived, so
    any executor regenerates identical rows (no RNG state, no driver
    loop)."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") / 3).cast("bigint").alias("grp"),
        (F.col("id") % 3).cast("int").alias("variant"),
    )
    pos = F.sequence(F.lit(0), F.lit(_SYNTH_WORDS - 1))
    word = lambda seed, p: F.concat(  # noqa: E731
        F.lit("w"), F.pmod(F.xxhash64(seed, p), F.lit(_SYNTH_VOCAB))
    )
    words = F.transform(
        pos,
        lambda p: F.when(
            (F.col("variant") == 1) & (p < 2), word(F.col("doc_id"), p)
        ).otherwise(word(F.col("grp"), p)),
    )
    return base.select(
        "doc_id", F.array_join(words, " ").alias("text")
    )


def _synth_embeddings(spark, n: int):
    """Deterministic synthetic embeddings with the same 3-variant
    cluster structure: variant 1 perturbs its first 8 dimensions
    (cosine(variant, base) stays high), variant 2 is an exact clone."""
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        (F.col("id") / 3).cast("bigint").alias("grp"),
        (F.col("id") % 3).cast("int").alias("variant"),
    )
    dims = F.sequence(F.lit(0), F.lit(_SYNTH_DIM - 1))
    unit = lambda seed, d: (  # noqa: E731
        F.pmod(F.xxhash64(seed, d), F.lit(2001)).cast("double") / 1000.0 - 1.0
    )
    vec = F.transform(
        dims,
        lambda d: F.when(
            (F.col("variant") == 1) & (d < 8), unit(F.col("vec_id"), d)
        ).otherwise(unit(F.col("grp"), d)).cast("float"),
    )
    return base.select("vec_id", vec.alias("embedding"))


def synth(sizes: list[int]) -> None:
    from data_spark.operators.similarity import (  # noqa: PLC0415
        embedding_near_duplicate_pairs,
    )

    spark = get_spark("scale_probe_synth")
    spark.sparkContext.setLogLevel("ERROR")
    ops = {
        "exact_dedup": lambda docs, emb: exact_duplicate_groups(docs),
        "ngram_jaccard": lambda docs, emb: ngram_jaccard_pairs(docs, threshold=0.5),
        "minhash_lsh": lambda docs, emb: minhash_lsh_candidates(docs),
        # 2 bands × 16 planes: random-direction pairs collide on a
        # 16-plane band w.p. ~2^-16, so candidate volume stays ~linear
        # even on a corpus whose non-dup vectors are mutually random —
        # rows_per_band=4 (2^-4 per band) admits ~n²/16 random
        # candidates and turns the probe quadratic at 50k regardless of
        # the join being an equi-join (measured: 50k timed out).
        "embed_lsh": lambda docs, emb: embedding_near_duplicate_pairs(
            emb, threshold=0.9, dim=_SYNTH_DIM, bands=2, rows_per_band=16
        ),
        # blocked entity resolution: variant-1 docs mutate their first
        # two words, so only the tail-key pass blocks them with their
        # base — cost must track block occupancy, not corpus²
        "edit_block": lambda docs, emb: blocked_edit_pairs(docs, max_dist=30),
        # sorted neighborhood: candidates are EXACTLY window*n by
        # construction (two-phase global rank + shifted-rank equi-join),
        # so the curve must stay ~linear no matter the key distribution
        "sorted_neighborhood": lambda docs, emb: sorted_neighborhood_pairs(
            docs, max_dist=30
        ),
        # containment: inverted-index fan-out bounded by the max_df
        # guard (Sigma df^2) — near-dup clusters share shingles, the
        # random tail doesn't
        "containment": lambda docs, emb: containment_pairs(docs),
    }
    results = {name: [] for name in ops}
    for n in sizes:
        parts = max(8, n // 5000)
        docs = _synth_documents(spark, n).repartition(parts).cache()
        emb = _synth_embeddings(spark, n).repartition(parts).cache()
        docs.count(), emb.count()
        for name, fn in ops.items():
            fn(docs, emb).count()  # cold: pay codegen/compile once
            start = time.perf_counter()
            rows = fn(docs, emb).count()
            point = {"n": n, "rows_out": rows, "warm_sec": round(time.perf_counter() - start, 4)}
            results[name].append(point)
            print(f"synth: {name} {point}", file=sys.stderr, flush=True)
        docs.unpersist()
        emb.unpersist()
    for name, points in results.items():
        xs = [math.log(p["n"]) for p in points]
        ys = [math.log(max(p["warm_sec"], 1e-4)) for p in points]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        print(
            json.dumps(
                {
                    "operator": name,
                    "mode": "synthetic",
                    "points": points,
                    "scaling_exponent": round(slope, 3),
                }
            ),
            flush=True,
        )


def incr(sizes: list[int], delta: int = 100) -> None:
    """VERDICT r4 #5's cost claim, measured against GROWING history:
    ingest a history of H docs through pipelines/incremental_e2e, then
    time a fixed ``delta``-doc second batch — delta/2 near-dup variants
    of history docs (the index must drop them) + delta/2 genuinely
    fresh docs (disjoint hex shingle space; all merged). If the
    composition is O(delta), the second-batch wall-clock exponent vs H
    stays far below 1 while the first batch (which really is O(H))
    scales ~linearly; store_rows_read must track delta/num_buckets of
    the store, never the store. The probe's bucket-table scan is the
    one honestly H-proportional read left (skinny int rows, never
    re-shingled text) — the exponent shows how little it costs."""
    import shutil
    import tempfile

    from data_spark.pipelines.incremental_e2e import run_batch

    spark = get_spark("scale_probe_incr")
    spark.sparkContext.setLogLevel("ERROR")
    points = []
    for h in sizes:
        parts = max(8, h // 5000)
        docs = _synth_documents(spark, h).repartition(parts)
        half = delta // 2
        variants = docs.filter(F.col("doc_id") < half).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat("text", F.lit(" v2 dup")).alias("text"),
        )
        fresh = docs.filter(F.col("doc_id") < delta - half).select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"),
            F.sha2(F.col("doc_id").cast("string"), 256).alias("text"),
        )
        src = (
            docs.unionByName(variants)
            .unionByName(fresh)
            .withColumn("lang", F.lit("en"))
            .withColumn("source", F.lit("synth"))
        )
        work = tempfile.mkdtemp(prefix="incr_probe_")
        start = time.perf_counter()
        m1 = run_batch(spark, src, work, batch_limit=h, num_buckets=64)
        t1 = time.perf_counter() - start
        start = time.perf_counter()
        m2 = run_batch(spark, src, work, batch_limit=delta, num_buckets=64)
        t2 = time.perf_counter() - start
        point = {
            "history": h,
            "delta": delta,
            "batch1_sec": round(t1, 3),
            "batch2_sec": round(t2, 3),
            "batch2_rows_read": m2["store_rows_read"],
            "batch2_dropped": m2["near_dups_dropped"],
            "store_total": m2["store_rows_total"],
        }
        points.append(point)
        print(f"incr: {point}", file=sys.stderr, flush=True)
        shutil.rmtree(work, ignore_errors=True)
    for key in ("batch1_sec", "batch2_sec"):
        xs = [math.log(p["history"]) for p in points]
        ys = [math.log(max(p[key], 1e-3)) for p in points]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        print(
            json.dumps(
                {
                    "operator": f"incremental_e2e:{key}",
                    "mode": "incr",
                    "points": points,
                    "scaling_exponent": round(slope, 3),
                }
            ),
            flush=True,
        )


def graph_mode(sizes: list[int]) -> None:
    """r6: the iterative graph tier is the slowest bench family at
    sf0.1, and every verdict so far has ASSERTED (not measured) that
    the cost there is per-iteration job-scheduling constant that
    amortizes at scale. Measure it: deterministic hash-derived edge
    sets at each size (|V| ≈ |E|/8, 10%% of edges rerouted to a hub
    vertex so the shuffle sees real skew), fixed-iteration PageRank(6)
    and connected components, exponent b in t ≈ a·|E|^b. b ≈ 1 on a
    100× range means the constant dominates at bench scale and the
    design scales linearly; an all-pairs or re-planning pathology
    would show b → 2 (or planning blowup growth per round)."""
    from data_spark.graph.algorithms import connected_components, pagerank

    spark = get_spark("scale_probe_graph")
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, list[dict]] = {"pagerank6": [], "components": []}
    for m in sizes:
        nv = max(64, m // 8)
        edges = (
            spark.range(m)
            .select(
                (F.xxhash64(F.col("id")) % nv).alias("s"),
                (F.xxhash64(F.col("id"), F.lit(1)) % nv).alias("d"),
            )
            .select(
                F.concat(F.lit("v"), F.abs(F.col("s"))).alias("src"),
                F.when(F.xxhash64(F.col("d")) % 10 == 0, F.lit("v0"))
                .otherwise(F.concat(F.lit("v"), F.abs(F.col("d"))))
                .alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        edges = edges.repartition(
            min(32, max(4, m // 250_000 + 4))
        ).localCheckpoint(eager=True)
        me = edges.count()
        for name, run in (
            ("pagerank6", lambda e: pagerank(e, iterations=6)),
            ("components", lambda e: connected_components(e)),
        ):
            run(edges).count()  # warm: pay codegen/compile once
            t0 = time.perf_counter()
            out_rows = run(edges).count()
            sec = round(time.perf_counter() - t0, 3)
            results[name].append({"edges": me, "rows": out_rows, "sec": sec})
            print(f"graph: {name} |E|={me} {sec}s", file=sys.stderr, flush=True)
    for name, points in results.items():
        xs = [math.log(p["edges"]) for p in points]
        ys = [math.log(max(p["sec"], 1e-3)) for p in points]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        print(
            json.dumps(
                {
                    "operator": f"graph:{name}",
                    "mode": "graph",
                    "points": points,
                    "scaling_exponent": round(slope, 3),
                }
            ),
            flush=True,
        )



def text_mode(sizes: list[int]) -> None:
    """Round-6 additions probed at 100x the gate corpus: bigram-LM
    self-scoring (model groupBy + bigram equi-join — honestly linear in
    corpus bigrams) and content-defined chunking (per-doc window + one
    fingerprint groupBy). The synthetic corpus's 3-variant clusters give
    the chunk dedup real repeated passages at every n. The number that
    matters at 100 TB is the exponent: both ops' work is a constant
    number of shuffles over frames proportional to corpus tokens, so
    warm wall must stay ~linear (exponent ~1 once real work dominates
    the fixed per-job constant, never super-linear)."""
    from data_spark.queries.analytics4 import bigram_nll, cdc_chunks  # noqa: PLC0415

    spark = get_spark("scale_probe_text")
    spark.sparkContext.setLogLevel("ERROR")
    ops = {
        "bigram_nll": lambda docs: bigram_nll(docs),
        "cdc_chunks": lambda docs: cdc_chunks(docs),
    }
    results = {name: [] for name in ops}
    for n in sizes:
        parts = max(8, n // 5000)
        docs = _synth_documents(spark, n).repartition(parts).cache()
        docs.count()
        for name, fn in ops.items():
            fn(docs).count()  # cold: pay codegen/compile once
            start = time.perf_counter()
            rows = fn(docs).count()
            point = {
                "n": n,
                "rows_out": rows,
                "warm_sec": round(time.perf_counter() - start, 4),
            }
            results[name].append(point)
            print(f"text: {name} {point}", file=sys.stderr, flush=True)
        docs.unpersist()
    for name, points in results.items():
        xs = [math.log(p["n"]) for p in points]
        ys = [math.log(max(p["warm_sec"], 1e-4)) for p in points]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        print(
            json.dumps(
                {
                    "operator": name,
                    "mode": "text",
                    "points": points,
                    "scaling_exponent": round(slope, 3),
                }
            ),
            flush=True,
        )



def ann_mode(sizes: list[int]) -> None:
    """The persistent-ANN pruning claim, measured: build an IVF-PQ
    index (nlist=64 coarse cells, m=8 sub-codes) over n synthetic
    vectors, then time the SAME 16-query top-k twice — nprobe=2
    (partition-pruned to 2/64 of the code partitions per query) vs
    nprobe=64 (probe everything, the flat-ADC equivalent). The wall
    ratio is the number the billion-vector story rests on: if pruning
    is real, probe cost tracks the probed share of codes, not the
    corpus; build cost (one-time) may grow ~linearly. Also checks the
    pruned result is contained in the probe-all result's cells story
    by reporting both row counts."""
    import shutil
    import tempfile

    from data_spark.operators.ann_index import build_ivfpq_index, ivfpq_index_topk

    spark = get_spark("scale_probe_ann")
    spark.sparkContext.setLogLevel("ERROR")
    points = []
    for n in sizes:
        parts = max(8, n // 50_000)
        emb = _synth_embeddings(spark, n).repartition(parts).cache()
        emb.count()
        queries = emb.filter(F.col("vec_id") % (n // 16) == 0).limit(16).cache()
        queries.count()
        idx = tempfile.mkdtemp(prefix="ann_probe_")
        try:
            start = time.perf_counter()
            build_ivfpq_index(emb, idx, num_centroids=64, m=8, ksub=16, iterations=2)
            build_sec = round(time.perf_counter() - start, 3)
            timings = {}
            for label, nprobe in (("pruned_nprobe2", 2), ("all_nprobe64", 64)):
                ivfpq_index_topk(spark, idx, queries, k=5, nprobe=nprobe).count()
                start = time.perf_counter()
                rows = ivfpq_index_topk(spark, idx, queries, k=5, nprobe=nprobe).count()
                timings[label] = {
                    "sec": round(time.perf_counter() - start, 3),
                    "rows": rows,
                }
            point = {
                "n": n,
                "build_sec": build_sec,
                "probe": timings,
                "prune_speedup": round(
                    timings["all_nprobe64"]["sec"] / timings["pruned_nprobe2"]["sec"], 2
                ),
            }
            points.append(point)
            print(f"ann: {point}", file=sys.stderr, flush=True)
        finally:
            shutil.rmtree(idx, ignore_errors=True)
        emb.unpersist()
        queries.unpersist()
    print(
        json.dumps({"operator": "ivfpq_index", "mode": "ann", "points": points}),
        flush=True,
    )


def rewrite_mode(sizes: list[int]) -> None:
    """r6-continuation probe: the C4-style duplicated-span rewrite over
    1k -> 100k synthetic docs (3-variant clusters supply real repeated
    passages at every n). The rewrite adds one chunk-fingerprint window
    and one reassembly groupBy over the chunk table, so warm wall must
    stay ~linear in corpus tokens — the exponent is the claim."""
    from data_spark.queries.analytics5 import chunk_dedup_rewrite  # noqa: PLC0415

    spark = get_spark("scale_probe_rewrite")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for n in sizes:
        parts = max(8, n // 5000)
        docs = _synth_documents(spark, n).repartition(parts).cache()
        docs.count()
        chunk_dedup_rewrite(docs).count()  # cold: pay codegen once
        start = time.perf_counter()
        out = chunk_dedup_rewrite(docs)
        rows = out.count()
        dropped = out.agg(F.sum("n_dropped")).first()[0]
        point = {
            "n": n,
            "rows_out": rows,
            "chunks_dropped": int(dropped),
            "warm_sec": round(time.perf_counter() - start, 4),
        }
        results.append(point)
        print(f"rewrite: {point}", file=sys.stderr, flush=True)
        docs.unpersist()
    xs = [math.log(p["n"]) for p in results]
    ys = [math.log(max(p["warm_sec"], 1e-4)) for p in results]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    print(
        json.dumps(
            {
                "operator": "chunk_dedup_rewrite",
                "mode": "rewrite",
                "points": results,
                "scaling_exponent": round(slope, 3),
            }
        ),
        flush=True,
    )


def bloom_mode(n_rows: int = 1_000_000, n_files: int = 64) -> None:
    """r6-continuation probe: per-file bloom data skipping measured at
    1M rows / 64 files. The probed column is a permuted id — every
    file's min/max envelope spans the whole domain, so envelope pruning
    opens ALL files; the bloom probe should open ~1 (+ false positives)
    and the wall-clock gap is the number that matters: at a million
    files the full scan is the difference between a point lookup and a
    table scan."""
    import shutil
    import tempfile

    spark = get_spark("scale_probe_bloom")
    spark.sparkContext.setLogLevel("ERROR")
    from data_spark.io import build_bloom_index, read_bloom_pruned  # noqa: PLC0415

    tmp = tempfile.mkdtemp(prefix="bloom_probe_")
    path, idx = f"{tmp}/facts", f"{tmp}/bloom"
    df = spark.range(n_rows).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id") * 2654435761, F.lit(1_000_000_007)).alias("u"),
    )
    df.repartitionByRange(n_files, "k").write.mode("overwrite").parquet(path)
    # size the bloom to the file: m ~ 10 bits per distinct value
    # (docstring rule in io.build_bloom_index) rounded up to a power of
    # two — under-sized blooms saturate and prune nothing
    per_file = n_rows // n_files
    bits = 1 << max(12, (10 * per_file - 1).bit_length())
    t0 = time.perf_counter()
    build_bloom_index(spark, path, "u", idx, bits=bits)
    build_sec = time.perf_counter() - t0

    probe_u = (
        spark.read.parquet(path).filter(F.col("k") == n_rows // 2).first()["u"]
    )
    full = spark.read.parquet(path).filter(F.col("u") == probe_u)
    full.count()  # warm the scan once
    t0 = time.perf_counter()
    full_rows = full.count()
    full_sec = time.perf_counter() - t0

    # end-to-end probe (index read + planning + data scan) ...
    t0 = time.perf_counter()
    pruned = read_bloom_pruned(spark, path, idx, "u", probe_u, bits=bits)
    pruned_rows = pruned.count()
    probe_e2e_sec = time.perf_counter() - t0
    opened = len(pruned.inputFiles())
    # ... and the data-scan term alone (what a reader amortizing the
    # index over a probe batch pays per probe): 1 file vs all of them
    pruned.count()
    t0 = time.perf_counter()
    pruned.count()
    pruned_scan_sec = time.perf_counter() - t0
    assert pruned_rows == full_rows

    print(
        json.dumps(
            {
                "mode": "bloom",
                "n_rows": n_rows,
                "n_files": n_files,
                "bloom_bits_per_file": bits,
                "index_build_sec": round(build_sec, 4),
                "full_scan_sec": round(full_sec, 4),
                "probe_e2e_sec": round(probe_e2e_sec, 4),
                "pruned_scan_sec": round(pruned_scan_sec, 4),
                "files_opened": opened,
                "scan_speedup": round(full_sec / max(pruned_scan_sec, 1e-4), 2),
                "files_skipped_ratio": round(n_files / max(opened, 1), 1),
            }
        ),
        flush=True,
    )
    shutil.rmtree(tmp, ignore_errors=True)


def merge_accum_mode(
    n: int = 500_000,
    n_merges: int = 30,
    batch: int = 1_000,
    maintained: int = 0,
    change_feed: int = 0,
) -> None:
    """VERDICT r9 #7: tombstone ACCUMULATION under a MERGE steady state
    (the CDC shape m_merge_upsert gates once). One base table, then
    ``n_merges`` successive fixed-size merges (half matched updates,
    half fresh inserts, 1 in 5 delete-flagged). Per-merge commit time
    must stay flat in the number of prior merges (each merge is
    O(source) writes + one manifest — tombstone history is untouched);
    the full-read time may grow mildly with commit/tombstone count
    (that is what purge_deletes/compact are scheduled for) and the
    PRUNED read must stay cheap because every merge commit now records
    per-file stats (r10)."""
    import shutil
    import tempfile

    from data_spark.io import (
        maintain_versioned,
        merge_versioned,
        read_versioned,
        write_versioned,
    )

    spark = get_spark("scale_probe_merge")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="merge_accum_")
    tp = os.path.join(work, "t")
    base = (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("c"),
            (F.col("id") * 7).alias("x"),
        )
        .repartition(16, "k")
    )
    write_versioned(base, tp, mode="overwrite", stats_cols=["k"])
    points = []
    for i in range(n_merges):
        lo = n + i * batch
        src = (
            spark.range(batch)
            .select(
                F.when(F.col("id") < batch // 2, F.col("id") * 97 % n)
                .otherwise(F.lit(lo) + F.col("id"))
                .alias("k"),
                F.sha2((F.col("id") + lo).cast("string"), 256).alias("c"),
                (F.col("id") + lo).alias("x"),
                (F.col("id") % 5 == 0).alias("del"),
            )
        )
        start = time.perf_counter()
        merge_versioned(
            src, tp, keys=["k"], delete_col="del", change_feed=bool(change_feed)
        )
        t_merge = time.perf_counter() - start
        point = {"merge_i": i + 1, "merge_s": round(t_merge, 3)}
        if maintained:
            start = time.perf_counter()
            rep = maintain_versioned(
                spark, tp, max_delete_entries=8, max_commits=16
            )
            if rep["purged"] is not None or rep["collapsed"] is not None:
                point["maint_s"] = round(time.perf_counter() - start, 3)
        if (i + 1) % 10 == 0 or i == 0:
            start = time.perf_counter()
            total = read_versioned(spark, tp).count()
            point["full_read_s"] = round(time.perf_counter() - start, 3)
            point["rows"] = total
            start = time.perf_counter()
            pruned = read_versioned(spark, tp, prune=("k", lo, lo + batch)).count()
            point["pruned_read_s"] = round(time.perf_counter() - start, 3)
            point["pruned_rows"] = pruned
            points.append(point)
        print(f"merge_accum: {point}", file=sys.stderr, flush=True)
    shutil.rmtree(work, ignore_errors=True)
    first, last = points[0], points[-1]
    print(
        json.dumps(
            {
                "mode": "merge_accum",
                "maintained": bool(maintained),
                "change_feed": bool(change_feed),
                "n": n,
                "n_merges": n_merges,
                "batch": batch,
                "points": points,
                "merge_flat_ratio": round(last["merge_s"] / max(first["merge_s"], 1e-3), 3),
            }
        )
    )


def bq_words_mode(dims: list[int] | None = None, n: int = 50_000, n_queries: int = 50) -> None:
    """VERDICT r9 #7: the >64-dim BQ path's cost must grow with
    words·corpus (words = ceil(d/64)), not worse — encode is a
    zero-shuffle projection, the Hamming shortlist scans words·8 bytes
    per corpus vector. Synthetic deterministic vectors at each d; times
    a warm encode pass and a warm two-stage probe."""
    from data_spark.operators.similarity import bq_rerank_topk, sign_bit_words

    dims = dims or [64, 256, 1024]
    spark = get_spark("scale_probe_bqw")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for d in dims:
        vec = F.transform(
            F.sequence(F.lit(1), F.lit(d)),
            lambda j: (
                F.pmod(F.xxhash64(F.col("id"), j), F.lit(2001)) - F.lit(1000)
            ).cast("double")
            / F.lit(1000.0),
        )
        corpus = spark.range(n).select(F.col("id").alias("vec_id"), vec.alias("embedding"))
        corpus = corpus.localCheckpoint(eager=True)
        queries = corpus.filter(F.col("vec_id") % (n // n_queries) == 0)
        codes = sign_bit_words(corpus)
        codes.count()  # cold: compile
        start = time.perf_counter()
        codes.count()
        t_encode = time.perf_counter() - start
        codes = codes.localCheckpoint(eager=True)
        probe = lambda: bq_rerank_topk(  # noqa: E731
            corpus, queries, codes, k=10, shortlist=40
        ).count()
        probe()  # cold
        start = time.perf_counter()
        rows = probe()
        t_probe = time.perf_counter() - start
        point = {
            "d": d,
            "words": -(-d // 64),
            "encode_warm_s": round(t_encode, 3),
            "probe_warm_s": round(t_probe, 3),
            "rows_out": rows,
        }
        results.append(point)
        print(f"bq_words: {point}", file=sys.stderr, flush=True)
    xs = [math.log(p["words"]) for p in results]
    ys = [math.log(max(p["probe_warm_s"], 1e-3)) for p in results]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    denom = sum((x - mx) ** 2 for x in xs) or 1e-9
    b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom
    print(
        json.dumps(
            {
                "mode": "bq_words",
                "n": n,
                "results": results,
                "probe_exponent_vs_words": round(b, 3),
            }
        )
    )


def cdf_mode(sizes: list[int] | None = None, n_merges: int = 30, batch: int = 1_000) -> None:
    """VERDICT r10 #4: ``read_changes`` over an N-merge interval must
    cost O(changed rows), not O(N × table). Same table sizes, same 30
    merges (hot-tail locality: updates hit the previous batch's key
    range — the CDC shape bounds-pruning is built for), then ONE
    read_changes over the whole interval. If recovery were
    O(N × table), the feed time would scale with the base size; with
    the commit-time key bounds pruning the pre-image scans it must stay
    ~flat across a 10× base-size range. (Scattered-key merges whose
    bounds span the table degrade to the documented full-scan fallback
    — locality is what per-file stats can use.)"""
    import shutil
    import tempfile

    from data_spark.io import merge_versioned, read_changes, write_versioned

    sizes = sizes or [100_000, 1_000_000]
    spark = get_spark("scale_probe_cdf")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for n in sizes:
        work = tempfile.mkdtemp(prefix="cdf_probe_")
        tp = os.path.join(work, "t")
        base = (
            spark.range(n)
            .select(
                F.col("id").alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("c"),
                (F.col("id") * 7).alias("x"),
            )
            .repartition(16, "k")
        )
        v0 = write_versioned(base, tp, mode="overwrite", stats_cols=["k"])
        t_merges = 0.0
        for i in range(n_merges):
            lo = n + i * batch
            prev_lo = n + (i - 1) * batch if i else n - batch
            src = spark.range(batch).select(
                F.when(F.col("id") < batch // 2, F.lit(prev_lo) + F.col("id"))
                .otherwise(F.lit(lo) + F.col("id"))
                .alias("k"),
                F.sha2((F.col("id") + lo).cast("string"), 256).alias("c"),
                (F.col("id") + lo).alias("x"),
                (F.col("id") % 5 == 0).alias("del"),
            )
            start = time.perf_counter()
            merge_versioned(src, tp, keys=["k"], delete_col="del")
            t_merges += time.perf_counter() - start
        start = time.perf_counter()
        rows = read_changes(spark, tp, from_version=v0).count()
        t_feed = time.perf_counter() - start
        point = {
            "n": n,
            "n_merges": n_merges,
            "merges_total_s": round(t_merges, 3),
            "feed_s": round(t_feed, 3),
            "change_rows": rows,
        }
        results.append(point)
        print(f"cdf: {point}", file=sys.stderr, flush=True)
        shutil.rmtree(work, ignore_errors=True)
    first, last = results[0], results[-1]
    print(
        json.dumps(
            {
                "mode": "cdf",
                "results": results,
                "feed_vs_table_ratio": round(
                    last["feed_s"] / max(first["feed_s"], 1e-3), 3
                ),
                "table_ratio": round(last["n"] / first["n"], 1),
            }
        )
    )


def bloom_cdf_mode(
    sizes: list[int] | None = None, n_merges: int | None = None, batch: int = 50
) -> None:
    """Round 12: per-commit key blooms must make SCATTERED-key CDF
    writes O(files containing the keys), closing the r11 caveat that
    such merges degrade to a full prior-snapshot scan per commit (the
    bounds envelope spans the table, so min/max pruning skips
    nothing). Same scattered merge sequence (keys strided across the
    WHOLE domain, change_feed=True so every commit pays the pre-image
    read) against a bloom-maintained table vs a bounds-only one:

    - bounds-only per-merge cost grows with the base size (full
      merge-on-read scan each commit);
    - bloom per-merge cost must stay ~flat across the size range (the
      probe opens only the files that can contain a tombstoned key),
      with the probe itself metadata-sized (keys x files bit tests).

    Both variants must produce IDENTICAL change feeds (hash compare
    in-probe) — pruning changes files opened, never rows."""
    import shutil
    import tempfile

    from data_spark.io import merge_versioned, read_changes, write_versioned

    sizes = sizes or [200_000, 800_000]
    if n_merges is None:
        n_merges = int(os.environ.get("SPARK_GRAFT_BLOOM_MERGES", "10"))
    spark = get_spark("scale_probe_bloom_cdf")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for n in sizes:
        point = {"n": n, "n_merges": n_merges}
        feeds = {}
        for variant in ("bloom", "bounds_only"):
            work = tempfile.mkdtemp(prefix="bloom_cdf_")
            tp = os.path.join(work, "t")
            base = (
                spark.range(n)
                .select(
                    F.col("id").alias("k"),
                    # ~1 KB payload per row: the pre-image scan the
                    # bloom avoids must COST something, or the probe
                    # only measures its own fixed per-version job
                    # overhead (~1-2 s) against a near-free scan
                    F.repeat(F.sha2(F.col("id").cast("string"), 256), 16).alias("c"),
                )
                # round-robin layout: every file's [min, max] on k spans
                # ~the whole domain — bounds pruning can never skip.
                # 128 files x a ~40-key batch is the membership-pruning
                # regime: far fewer changed keys than files, so a probe
                # can bound the read while a full scan pays for all 128
                .repartition(128)
            )
            v0 = write_versioned(
                base,
                tp,
                mode="overwrite",
                stats_cols=["k"],
                bloom_cols=["k"] if variant == "bloom" else None,
            )
            per_merge = []
            for i in range(n_merges):
                # deterministic stride: batch keys spread over the whole
                # table plus a few fresh inserts past the domain
                src = spark.range(batch).select(
                    F.when(
                        F.col("id") < batch - 10,
                        (F.col("id") * 7919 + F.lit(i * 13)) % n,
                    )
                    .otherwise(F.lit(n + i * 10) + F.col("id"))
                    .alias("k"),
                    F.sha2((F.col("id") + i).cast("string"), 256).alias("c"),
                    F.lit(False).alias("del"),
                )
                start = time.perf_counter()
                merge_versioned(
                    src, tp, keys=["k"], delete_col="del", change_feed=True
                )
                per_merge.append(time.perf_counter() - start)
            t_total = sum(per_merge)
            third = max(1, n_merges // 3)
            point[f"{variant}_merges_total_s"] = round(t_total, 3)
            point[f"{variant}_per_merge_s"] = round(t_total / n_merges, 3)
            # accretion trend: each merge's pre-image scan anti-joins
            # every PRIOR tombstone across the files it opens, so a
            # full-scan path climbs with merge count while a
            # membership-pruned one pays accretion only on the files
            # that contain keys
            point[f"{variant}_first_third_s"] = round(
                sum(per_merge[:third]) / third, 3
            )
            point[f"{variant}_last_third_s"] = round(
                sum(per_merge[-third:]) / third, 3
            )
            if variant == "bloom":
                # the structural claim, measured: the LAST merge's
                # pre-image read opened only the files its keys can
                # inhabit, out of every data file visible at its parent
                from data_spark.io import (
                    _bloom_keep_files,
                    _load_manifest,
                    branch_head,
                )

                head = _load_manifest(tp, branch_head(tp, "main"))
                tomb_df = spark.range(batch).select(
                    F.when(
                        F.col("id") < batch - 10,
                        (F.col("id") * 7919 + F.lit((n_merges - 1) * 13)) % n,
                    )
                    .otherwise(F.lit(n + (n_merges - 1) * 10) + F.col("id"))
                    .alias("k")
                )
                keep = _bloom_keep_files(spark, tp, head, tomb_df)
                total_files = sum(
                    len(files) for files in head.get("stats", {}).values()
                )
                point["bloom_files_opened"] = (
                    None if keep is None else sum(len(s) for s in keep.values())
                )
                point["bloom_files_total"] = total_files
            feed = read_changes(spark, tp, from_version=v0)
            feeds[variant] = sorted(
                (r["k"], r["c"], r["_change_type"], r["_commit_version"])
                for r in feed.collect()
            )
            shutil.rmtree(work, ignore_errors=True)
        point["feeds_identical"] = feeds["bloom"] == feeds["bounds_only"]
        point["change_rows"] = len(feeds["bloom"])
        results.append(point)
        print(f"bloom_cdf: {point}", file=sys.stderr, flush=True)
    first, last = results[0], results[-1]
    print(
        json.dumps(
            {
                "mode": "bloom_cdf",
                "results": results,
                "bloom_cost_ratio_across_sizes": round(
                    last["bloom_per_merge_s"]
                    / max(first["bloom_per_merge_s"], 1e-3),
                    3,
                ),
                "bounds_only_cost_ratio_across_sizes": round(
                    last["bounds_only_per_merge_s"]
                    / max(first["bounds_only_per_merge_s"], 1e-3),
                    3,
                ),
                "table_ratio": round(last["n"] / first["n"], 1),
            }
        )
    )


def stream_source_mode(sizes: list[int] | None = None) -> None:
    """VERDICT r10 #1: the rebuilt ``versioned_table`` stream source
    must not materialize the table on the driver. Structural evidence:
    the reader plans one InputPartition per data file (counted here)
    and rows flow executor-side as Arrow batches — so the snapshot
    drain distributes and its wall time scales with data, while
    DRIVER-side work (offset resolution + partition planning) is
    manifest metadata only and stays ~flat. Also times per-trigger
    offset resolution against a 150-version log: with the refs.json
    anchor + dense forward probe it reads O(1) manifests, not
    O(retained versions)."""
    import shutil
    import tempfile

    from data_spark.io import read_versioned, write_versioned
    from data_spark.sources.versioned_datasource import (
        VersionedStreamReader,
        register,
    )

    sizes = sizes or [500_000, 4_000_000]
    spark = get_spark("scale_probe_vsrc")
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    results = []
    for n in sizes:
        work = tempfile.mkdtemp(prefix="vsrc_probe_")
        tp = os.path.join(work, "t")
        base = (
            spark.range(n)
            .select(
                F.col("id").alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("c"),
            )
            .repartition(16)
        )
        write_versioned(base, tp, mode="overwrite")
        write_versioned(
            spark.range(n, n + 1000).select(
                F.col("id").alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("c"),
            ),
            tp,
            mode="append",
        )
        schema = read_versioned(spark, tp).schema
        r = VersionedStreamReader(schema, {"path": tp})
        start = time.perf_counter()
        off = r.initialOffset()
        end = r.latestOffset()
        parts = r.partitions(off, end)
        t_plan = time.perf_counter() - start
        sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "ckpt")
        start = time.perf_counter()
        q = (
            spark.readStream.format("versioned_table")
            .option("path", tp)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        t_drain = time.perf_counter() - start
        rows = spark.read.parquet(sink).count()
        point = {
            "n": n,
            "plan_partitions": len(parts),
            "plan_s": round(t_plan, 4),
            "drain_s": round(t_drain, 3),
            "rows_out": rows,
        }
        results.append(point)
        print(f"stream_source: {point}", file=sys.stderr, flush=True)
        shutil.rmtree(work, ignore_errors=True)
    # offset-resolution cost against a long log
    work = tempfile.mkdtemp(prefix="vsrc_log_")
    tp = os.path.join(work, "t")
    write_versioned(
        spark.range(10).select(F.col("id").alias("k")), tp, mode="overwrite"
    )
    for _ in range(149):
        write_versioned(
            spark.range(10).select(F.col("id").alias("k")), tp, mode="append"
        )
    schema = read_versioned(spark, tp).schema
    r = VersionedStreamReader(schema, {"path": tp})
    off = r.initialOffset()
    end = r.latestOffset()
    r.partitions(off, end)
    start = time.perf_counter()
    n_polls = 200
    for _ in range(n_polls):
        r.latestOffset()
    t_poll = (time.perf_counter() - start) / n_polls
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "mode": "stream_source",
                "results": results,
                "drain_ratio": round(
                    results[-1]["drain_s"] / max(results[0]["drain_s"], 1e-3), 3
                ),
                "plan_ratio": round(
                    results[-1]["plan_s"] / max(results[0]["plan_s"], 1e-4), 3
                ),
                "log_versions": 150,
                "steady_poll_ms": round(t_poll * 1000, 3),
            }
        )
    )


def bounded_drain_mode(sizes: list[int] | None = None, backlog: int = 20, bound: int = 5) -> None:
    """VERDICT r11 #5: a backlogged ``versioned_table`` stream must
    catch up in BOUNDED batches whose cost scales with the bound, not
    the backlog. Build the same ``backlog``-version pile at two
    per-version row sizes, drain with
    ``drain_available_now_bounded(max_versions_per_trigger=bound)``,
    and record runs (== engine batches, expected ceil(backlog/bound)
    + snapshot + the catch-up discovery run), per-run wall times, and
    row-exactness vs the table. Per-run time must track rows-per-batch
    (bound × version size), staying ~flat as the BACKLOG grows only in
    version count."""
    import shutil
    import tempfile

    from data_spark.io import read_versioned, write_versioned
    from data_spark.sources.versioned_datasource import drain_available_now_bounded

    sizes = sizes or [2_000, 20_000]
    spark = get_spark("scale_probe_bdrain")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for per_version in sizes:
        work = tempfile.mkdtemp(prefix="bdrain_probe_")
        tp, sink, ckpt = (os.path.join(work, d) for d in ("t", "s", "c"))
        mk = lambda lo: spark.range(lo, lo + per_version).select(  # noqa: E731
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("c"),
        )
        write_versioned(mk(0), tp, mode="overwrite")
        # snapshot drain first, THEN the backlog accumulates
        start = time.perf_counter()
        runs0 = drain_available_now_bounded(
            spark, tp, sink, ckpt, max_versions_per_trigger=bound
        )
        t_snapshot = time.perf_counter() - start
        for i in range(backlog):
            write_versioned(mk((i + 1) * per_version), tp, mode="append")
        start = time.perf_counter()
        runs = drain_available_now_bounded(
            spark, tp, sink, ckpt, max_versions_per_trigger=bound
        )
        t_catchup = time.perf_counter() - start
        got = spark.read.parquet(sink).count()
        want = read_versioned(spark, tp).count()
        point = {
            "rows_per_version": per_version,
            "backlog_versions": backlog,
            "bound": bound,
            "snapshot_runs": runs0,
            "snapshot_s": round(t_snapshot, 2),
            "catchup_runs": runs,
            "catchup_s": round(t_catchup, 2),
            "s_per_run": round(t_catchup / runs, 2),
            "rows_exact": got == want,
        }
        results.append(point)
        print(f"bounded_drain: {point}", file=sys.stderr, flush=True)
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "mode": "bounded_drain",
                "results": results,
                "per_run_ratio_10x_rows": round(
                    results[-1]["s_per_run"] / max(results[0]["s_per_run"], 1e-3),
                    2,
                ),
            }
        )
    )


def where_derive_mode() -> None:
    """VERDICT r11 #4: ``read_versioned(where=...)`` must make file
    skipping free at the call site — derivation cost is driver-side
    METADATA work (one Spark parse of the predicate + the same Python
    overlap test explicit prune pays), so it must stay in milliseconds
    and independent of table size, while the files actually opened
    shrink to the probed envelope."""
    import shutil
    import tempfile

    from data_spark.io import _derive_prune_triples, read_versioned, write_versioned

    spark = get_spark("scale_probe_wderive")
    spark.sparkContext.setLogLevel("ERROR")

    # parse throughput on a realistic compound predicate (the parser is
    # the active session's, so the session comes first)
    pred = (
        "o_custkey BETWEEN 100 AND 400 AND o_orderkey >= 500 AND "
        "o_orderkey < 4000 AND o_orderstatus = 'F' AND o_clerk LIKE 'c%'"
    )
    n_parse = 500
    start = time.perf_counter()
    for _ in range(n_parse):
        _derive_prune_triples(pred)
    parse_us = (time.perf_counter() - start) / n_parse * 1e6
    points = []
    for n in (100_000, 1_000_000):
        work = tempfile.mkdtemp(prefix="wderive_probe_")
        tp = os.path.join(work, "t")
        df = (
            spark.range(n)
            .select(F.col("id").alias("k"), (F.col("id") % 97).alias("x"))
            .repartitionByRange(32, "k")
            .sortWithinPartitions("k")
        )
        write_versioned(df, tp, mode="overwrite", stats_cols=["k"])
        full = len(read_versioned(spark, tp).inputFiles())
        start = time.perf_counter()
        pruned_df = read_versioned(
            spark, tp, where=f"k BETWEEN {n // 2} AND {n // 2 + n // 50} AND x >= 0"
        )
        t_plan = time.perf_counter() - start
        pruned = len(pruned_df.inputFiles())
        points.append(
            {
                "n": n,
                "files_full": full,
                "files_pruned": pruned,
                "plan_s": round(t_plan, 4),
            }
        )
        print(f"where_derive: {points[-1]}", file=sys.stderr, flush=True)
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "mode": "where_derive",
                "parse_us_per_predicate": round(parse_us, 1),
                "results": points,
            }
        )
    )


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "bounded_drain":
        args = [int(x) for x in sys.argv[2:]]
        bounded_drain_mode(args or None)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "where_derive":
        where_derive_mode()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "rewrite":
        rewrite_mode([int(x) for x in sys.argv[2:]] or [1_000, 10_000, 100_000])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "bloom":
        bloom_mode(*([int(x) for x in sys.argv[2:]] or [1_000_000, 64]))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "graph":
        graph_mode([int(x) for x in sys.argv[2:]] or [100_000, 1_000_000, 10_000_000])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "curve":
        curve(sys.argv[2:] or list(_CURVE_DEFAULTS))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "merge_accum":
        args = [int(x) for x in sys.argv[2:]]
        merge_accum_mode(*args)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "bq_words":
        bq_words_mode([int(x) for x in sys.argv[2:]] or None)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "cdf":
        cdf_mode([int(x) for x in sys.argv[2:]] or None)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "bloom_cdf":
        bloom_cdf_mode([int(x) for x in sys.argv[2:]] or None)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "stream_source":
        stream_source_mode([int(x) for x in sys.argv[2:]] or None)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "incr":
        incr([int(x) for x in sys.argv[2:]] or [500, 5_000, 50_000])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "ann":
        ann_mode([int(x) for x in sys.argv[2:]] or [100_000, 1_000_000])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "text":
        text_mode([int(x) for x in sys.argv[2:]] or [1_000, 10_000, 100_000])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "synth":
        synth([int(x) for x in sys.argv[2:]] or [500, 5_000, 50_000])
        return
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big = base
    for i in range(1, mult):
        big = big.unionByName(base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000)))
    big = big.repartition(spark.sparkContext.defaultParallelism).cache()
    n = big.count()
    for name, fn in [
        ("exact", lambda df: exact_duplicate_groups(df)),
        ("minhash_lsh", lambda df: minhash_lsh_candidates(df)),
        ("ngram_jaccard", lambda df: ngram_jaccard_pairs(df, threshold=0.5)),
    ]:
        start = time.perf_counter()
        pairs = fn(big).count()
        print(
            json.dumps(
                {
                    "operator": name,
                    "docs": n,
                    "multiplier": mult,
                    "pairs": pairs,
                    "sec": round(time.perf_counter() - start, 2),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
