#!/usr/bin/env python
"""Scaling evidence for the round-4 training-data operators
(dup_ngram_spans, minhash_index + incremental_near_dups), same
treatment as the crawl suite: the identical job on the same
deterministically-generated corpus at local[1] vs local[4] (fresh JVM
per leg, warm-up pass on a slice, best-of-N alternating, raw-CPU
calibration reported). Writes BENCH/OPS_SCALING.md.

The corpus is generated inside Spark (no driver loops): token j of doc
i is vocab[xxhash64(gid, j) % V] where gid = i - i%4 groups docs into
near-dup quadruples, ~3% of positions get per-doc noise tokens, and
every 5th doc carries a fixed boilerplate run at positions 20-35 —
so both cross-group duplicated spans and near-dup groups exist by
construction at any scale.

Usage: python scripts/bench_ops_scaling.py [n_docs] [reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))
from bench_scaling import cpu_calibration  # noqa: E402

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 2
CORPUS = os.path.join(REPO, "fixtures", "ops-corpus", f"docs_{N_DOCS}")

GEN = r"""
import sys; sys.path.insert(0, {repo!r})
import bench
from pyspark.sql import functions as F
spark = bench.build_spark(8); spark.sparkContext.setLogLevel("ERROR")
V = 5000
vocab = F.array(*[F.lit(f"w{{i}}") for i in range(V)])
boiler = [F.lit(f"boiler{{i}}") for i in range(16)]
n_tok = 120
df = spark.range({n_docs}).select(
    F.col("id").alias("doc_id"),
    (F.col("id") - F.col("id") % 4).alias("gid"),
)
tok = F.transform(
    F.sequence(F.lit(0), F.lit(n_tok - 1)),
    lambda j: F.when(
        F.pmod(F.xxhash64(F.col("doc_id"), j, F.lit(7)), F.lit(37)) == 0,
        F.element_at(vocab, (F.pmod(F.xxhash64(F.col("doc_id"), j, F.lit(1)), F.lit(V)) + 1).cast("int")),
    ).otherwise(
        F.element_at(vocab, (F.pmod(F.xxhash64(F.col("gid"), j), F.lit(V)) + 1).cast("int"))
    ),
)
df = df.select("doc_id", tok.alias("_t"))
df = df.select(
    "doc_id",
    F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.slice("_t", 1, 20), F.array(*boiler), F.slice("_t", 37, n_tok - 36)),
    ).otherwise(F.col("_t")).alias("_t"),
)
out = df.select("doc_id", F.concat_ws(" ", "_t").alias("text"))
out.repartition(16).write.mode("overwrite").parquet({corpus!r})
print("GEN", spark.read.parquet({corpus!r}).count())
"""

STEP = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
import bench
from pyspark.sql import functions as F
from walker_spark.operators.dedup import (
    cdc_chunks, cdc_dedup_stats, dup_ngram_spans, incremental_near_dups,
    line_dedup, minhash_index)
from walker_spark.operators.curation import assign_shards, dsir_select, temperature_mix
from walker_spark.operators.similarity import (
    embedding_clusters, knn_graph, pq_codebooks, pq_topk)
from walker_spark.operators.textstats import gopher_rules, perplexity_buckets
from walker_spark.operators.graph import hop_distances, kcore, pagerank, triangle_counts
from walker_spark.operators.sketches import hll_distinct
from walker_spark.operators.multimodal import hamming_near_dups
from walker_spark.operators.textstats import novelty_scores
from walker_spark.operators.retrieval import bm25_pruned_topk, bm25_topk
from walker_spark.operators.sketches import space_saving_estimates, space_saving_summaries
spark = bench.build_spark({cpus}); spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet({corpus!r})
# round-5 op inputs derived deterministically from the same corpus:
# 10 lines x 12 tokens per doc (boilerplate + near-dup lines exist by
# construction), a 50-way source key, and 64-dim hash embeddings
_toks = F.split("text", " ")
ldocs = docs.select(
    "doc_id",
    F.concat_ws("\n", *[
        F.concat_ws(" ", F.slice(_toks, i * 12 + 1, 12)) for i in range(10)
    ]).alias("text"),
)
sdocs = docs.select(
    "doc_id", "text",
    F.concat(F.lit("src"), (F.col("doc_id") % 50).cast("string")).alias("source"),
)
emb = docs.select(
    F.col("doc_id").alias("vec_id"),
    F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: (F.pmod(F.xxhash64(F.col("doc_id"), d), F.lit(2000))
                   .cast("double") / 1000.0 - 1.0),
    ).cast("array<float>").alias("embedding"),
)
QV = [((i * 37 + 11) % 13 - 6) / 6.0 for i in range(64)]
# deterministic per-doc score column: isolates the perplexity_buckets
# rank machinery from the (separately measured) LM scoring cost
scored = docs.select(
    F.col("doc_id").alias("id"),
    (F.pmod(F.xxhash64("doc_id"), F.lit(2000)).cast("double") / 1000.0 - 1.0
     ).alias("avg_logprob"),
)
# deterministic 3-out-degree edge list over the doc-id space (hash
# destinations; every 10th node dangling) for the pagerank leg
edges = (docs.select(F.col("doc_id").alias("src"))
         .filter(F.col("src") % 10 != 0)
         .select("src", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"))
         .select("src", F.pmod(F.xxhash64("src", "j"), F.lit({n_docs})).alias("dst")))
BMQ = [(0, "w12 w345 w1023"), (1, "w77 w4999"), (2, "w2500 w13 w900 w31")]
# 60-bit hashes with planted one-bit twins (the phash_near_dups shape)
ph = docs.select(
    F.col("doc_id").alias("asset_id"),
    F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long").alias("phash"),
)
ph_all = ph.unionByName(
    ph.filter(F.col("asset_id") % 7 == 0).select(
        (F.col("asset_id") + 10_000_000).alias("asset_id"),
        F.expr("phash ^ shiftleft(CAST(1 AS BIGINT), CAST(asset_id % 60 AS INT))")
        .alias("phash"),
    )
)
stoks = sdocs.select("source", F.explode(F.split("text", " ")).alias("item"))
warm = docs.limit(2000).localCheckpoint()
# warm-up: same plans, throwaway slice (JVM/codegen steady state)
dup_ngram_spans(warm, n=8).count()
incremental_near_dups(
    warm.filter(F.col("doc_id") % 2 == 1),
    minhash_index(warm.filter(F.col("doc_id") % 2 == 0), shingle_n=1),
    threshold=0.8, shingle_n=1).count()
line_dedup(ldocs.limit(2000), min_docs=2).count()
gopher_rules(warm, min_stop_hits=0).count()
temperature_mix(sdocs.limit(2000), budget_docs=500).count()
pq_topk(emb.limit(2000), QV, k=10).count()
dsir_select(warm, warm.limit(200), k=50, buckets=512).count()
perplexity_buckets(scored.limit(2000)).count()
embedding_clusters(emb.limit(2000), n_clusters=16, refine_iters=1).count()
assign_shards(warm, shard_tokens=2048).count()
pagerank(edges.limit(5000), iterations=2).count()
bm25_topk(warm, spark.createDataFrame(BMQ, 'query_id int, query string'), k=10).count()
hamming_near_dups(ph_all.limit(4000), max_hamming=2).count()
novelty_scores(warm.filter(F.col("doc_id") % 2 == 1),
               warm.filter(F.col("doc_id") % 2 == 0), n=3).count()
hll_distinct(stoks.limit(20000), ["source"], "item", b=8).count()
triangle_counts(edges.limit(5000)).count()
seeds = spark.range(3).select(F.col("id").alias("node"))
hop_distances(edges.limit(5000), seeds, max_hops=4).count()
kcore(edges.limit(5000), k=4).count()
emb20 = emb.filter(F.col("vec_id") < 20000)
knn_graph(emb20.limit(2000), k=4, n_cells=16).count()
# consume via the stats rollup, NOT .count() — count would prune the
# chunk_key md5 (the expensive column; the language_id count() gotcha)
cdc_dedup_stats(cdc_chunks(warm, window=8, divisor=64)).collect()
t0 = time.time(); n_spans = dup_ngram_spans(docs, n=8).count()
spans_s = time.time() - t0
corpus_half = docs.filter(F.col("doc_id") % 2 == 0)
batch = docs.filter(F.col("doc_id") % 2 == 1)
t0 = time.time()
idx = minhash_index(corpus_half, shingle_n=1).localCheckpoint()
idx_n = idx.count(); index_s = time.time() - t0
t0 = time.time()
n_dups = incremental_near_dups(batch, idx, threshold=0.8, shingle_n=1).count()
inc_s = time.time() - t0
t0 = time.time(); n_lines = line_dedup(ldocs, min_docs=2).count()
line_s = time.time() - t0
t0 = time.time(); n_gopher = gopher_rules(docs, min_stop_hits=0).filter("gopher_pass").count()
gopher_s = time.time() - t0
t0 = time.time(); n_mix = temperature_mix(sdocs, budget_docs=10000).count()
mix_s = time.time() - t0
t0 = time.time(); n_pq = pq_topk(emb, QV, k=10).count()
pq_s = time.time() - t0
t0 = time.time()
n_dsir = dsir_select(
    docs.filter(F.col("doc_id") % 20 != 0),
    docs.filter(F.col("doc_id") % 20 == 0), k=1000).count()
dsir_s = time.time() - t0
t0 = time.time(); n_ppl = perplexity_buckets(scored).count()
ppl_s = time.time() - t0
t0 = time.time()
n_clu = embedding_clusters(emb, n_clusters=16, refine_iters=1).count()
clu_s = time.time() - t0
t0 = time.time(); n_shard = assign_shards(docs, shard_tokens=2048).count()
shard_s = time.time() - t0
t0 = time.time(); n_pr = pagerank(edges, iterations=5).count()
pr_s = time.time() - t0
t0 = time.time()
n_bm = bm25_topk(docs, spark.createDataFrame(BMQ, 'query_id int, query string'), k=10).count()
bm_s = time.time() - t0
t0 = time.time()
n_bmp = bm25_pruned_topk(docs, spark.createDataFrame(BMQ, 'query_id int, query string'), k=10, n_impact=64).count()
bmp_s = time.time() - t0
t0 = time.time()
_hh_summ = space_saving_summaries(stoks.withColumn('shard', F.col('source')), ['shard'], 'item', k=16, buckets=8)
n_hh = space_saving_estimates(_hh_summ, ['shard']).count()
hh_s = time.time() - t0
t0 = time.time(); n_ham = hamming_near_dups(ph_all, max_hamming=2).count()
ham_s = time.time() - t0
t0 = time.time()
n_nov = novelty_scores(docs.filter(F.col("doc_id") % 2 == 1),
                       docs.filter(F.col("doc_id") % 2 == 0), n=3).count()
nov_s = time.time() - t0
t0 = time.time(); n_hll = hll_distinct(stoks, ["source"], "item", b=8).count()
hll_s = time.time() - t0
t0 = time.time(); n_tri = triangle_counts(edges).count()
tri_s = time.time() - t0
t0 = time.time(); n_hop = hop_distances(edges, seeds, max_hops=8).count()
hop_s = time.time() - t0
t0 = time.time(); n_kc = kcore(edges, k=4).count()
kc_s = time.time() - t0
t0 = time.time(); n_knn = knn_graph(emb20, k=4, n_cells=64).count()
knn_s = time.time() - t0
t0 = time.time()
_cdc_row = cdc_dedup_stats(cdc_chunks(docs, window=8, divisor=64)).collect()[0]
n_cdc = _cdc_row["n_chunks"]
cdc_s = time.time() - t0
print("RESULT " + json.dumps({{
    "cpus": {cpus}, "spans_sec": round(spans_s, 2), "n_spans": n_spans,
    "index_sec": round(index_s, 2), "index_rows": idx_n,
    "incremental_sec": round(inc_s, 2), "n_dups": n_dups,
    "line_sec": round(line_s, 2), "n_lines": n_lines,
    "gopher_sec": round(gopher_s, 2), "n_gopher": n_gopher,
    "mix_sec": round(mix_s, 2), "n_mix": n_mix,
    "pq_sec": round(pq_s, 2), "n_pq": n_pq,
    "dsir_sec": round(dsir_s, 2), "n_dsir": n_dsir,
    "ppl_sec": round(ppl_s, 2), "n_ppl": n_ppl,
    "clu_sec": round(clu_s, 2), "n_clu": n_clu,
    "shard_sec": round(shard_s, 2), "n_shard": n_shard,
    "pr_sec": round(pr_s, 2), "n_pr": n_pr,
    "bm_sec": round(bm_s, 2), "n_bm": n_bm,
    "bmp_sec": round(bmp_s, 2), "n_bmp": n_bmp,
    "hh_sec": round(hh_s, 2), "n_hh": n_hh,
    "ham_sec": round(ham_s, 2), "n_ham": n_ham,
    "nov_sec": round(nov_s, 2), "n_nov": n_nov,
    "hll_sec": round(hll_s, 2), "n_hll": n_hll,
    "tri_sec": round(tri_s, 2), "n_tri": n_tri,
    "hop_sec": round(hop_s, 2), "n_hop": n_hop,
    "kc_sec": round(kc_s, 2), "n_kc": n_kc,
    "knn_sec": round(knn_s, 2), "n_knn": n_knn,
    "cdc_sec": round(cdc_s, 2), "n_cdc": n_cdc}}))
"""


def run_py(code: str) -> dict:
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=3600, cwd=REPO)
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT ") or line.startswith("GEN"):
            return (json.loads(line[7:]) if line.startswith("RESULT ")
                    else {"gen": int(line.split()[1])})
    print(proc.stdout[-2000:], file=sys.stderr)
    print(proc.stderr[-2000:], file=sys.stderr)
    raise RuntimeError("no RESULT")


def main():
    calib = cpu_calibration(1, 4)
    print(f"raw-CPU calibration 1->4: {calib:.2f}x", file=sys.stderr)
    if not os.path.isdir(CORPUS):
        print("== generating ops corpus ==", file=sys.stderr)
        print(run_py(GEN.format(repo=REPO, n_docs=N_DOCS, corpus=CORPUS)),
              file=sys.stderr)
    best: dict[int, dict] = {}
    for rep in range(REPS):
        for cpus in (1, 4):
            print(f"== ops local[{cpus}] rep {rep} ==", file=sys.stderr)
            res = run_py(STEP.format(repo=REPO, cpus=cpus, corpus=CORPUS, n_docs=N_DOCS))
            print(json.dumps(res), file=sys.stderr)
            if cpus not in best:
                best[cpus] = res
            else:
                for k in ("spans_sec", "index_sec", "incremental_sec",
                          "line_sec", "gopher_sec", "mix_sec", "pq_sec",
                          "dsir_sec", "ppl_sec", "clu_sec", "shard_sec",
                          "pr_sec", "bm_sec", "bmp_sec", "hh_sec", "ham_sec", "nov_sec",
                          "hll_sec", "tri_sec", "hop_sec", "kc_sec",
                          "knn_sec", "cdc_sec"):
                    best[cpus][k] = min(best[cpus][k], res[k])
    lines = [
        "# BENCH/OPS_SCALING.md — training-data operator scaling evidence",
        "",
        f"Same N vs 4N treatment as the crawl suite (BENCH/BASELINE.md):",
        f"local[1] vs local[4], fresh JVM per leg, warm-up slice pass,",
        f"best-of-{REPS} alternating. Corpus: {N_DOCS} docs x 120 tokens,",
        "deterministic in-Spark generation (near-dup quadruples, ~3%",
        f"noise positions, boilerplate run in every 5th doc). Raw-CPU",
        f"calibration this run: {calib:.2f}x of ideal 4.",
        "",
        "| operator | local[1] (s) | local[4] (s) | speedup | efficiency |",
        "|---|---|---|---|---|",
    ]
    for label, key, extra in (
        ("dup_ngram_spans (8-gram spans)", "spans_sec",
         f"{best[1]['n_spans']} spans"),
        ("minhash_index build (even half)", "index_sec",
         f"{best[1]['index_rows']} rows"),
        ("incremental_near_dups (odd half vs index)", "incremental_sec",
         f"{best[1]['n_dups']} dups"),
        ("line_dedup (10 lines/doc)", "line_sec",
         f"{best[1]['n_lines']} rows"),
        ("gopher_rules (full Table A1 gate)", "gopher_sec",
         f"{best[1]['n_gopher']} pass"),
        ("temperature_mix (50 sources, budget 10k)", "mix_sec",
         f"{best[1]['n_mix']} kept"),
        ("pq_topk (encode 60k x 64d + ADC)", "pq_sec",
         f"{best[1]['n_pq']} rows"),
        ("dsir_select (5% target, top-1k)", "dsir_sec",
         f"{best[1]['n_dsir']} kept"),
        ("perplexity_buckets (global rank, 60k)", "ppl_sec",
         f"{best[1]['n_ppl']} rows"),
        ("embedding_clusters (k-means 16, 1 Lloyd, 60k x 64d)", "clu_sec",
         f"{best[1]['n_clu']} rows"),
        ("assign_shards (global prefix sum, 2048-token shards)", "shard_sec",
         f"{best[1]['n_shard']} rows"),
        ("pagerank (5 iters, 3-out-deg hash graph)", "pr_sec",
         f"{best[1]['n_pr']} nodes"),
        ("bm25_topk (3 queries over 60k docs)", "bm_sec",
         f"{best[1]['n_bm']} rows"),
        ("bm25_pruned_topk (same queries, n_impact=64)", "bmp_sec",
         f"{best[1]['n_bmp']} rows"),
        ("space_saving heavy hitters (per-source, k=16 x 8 buckets)", "hh_sec",
         f"{best[1]['n_hh']} items"),
        ("hamming_near_dups (radius 2, planted 1-bit twins)", "ham_sec",
         f"{best[1]['n_ham']} pairs"),
        ("novelty_scores (trigram types, odd vs even half)", "nov_sec",
         f"{best[1]['n_nov']} docs"),
        ("hll_distinct (b=8 per-source token sketch, 7.2M tokens)", "hll_sec",
         f"{best[1]['n_hll']} rows"),
        ("triangle_counts (degree-ordered, 3-out-deg hash graph)", "tri_sec",
         f"{best[1]['n_tri']} nodes"),
        ("hop_distances (BFS from 3 seeds, max 8 hops)", "hop_sec",
         f"{best[1]['n_hop']} reached"),
        ("kcore (k=4 peel to fixpoint)", "kc_sec",
         f"{best[1]['n_kc']} nodes"),
        ("knn_graph (mutual k=4, 20k x 64d, 64 cells)", "knn_sec",
         f"{best[1]['n_knn']} edges"),
        ("cdc_chunks + dedup stats (8-char window, div 64)", "cdc_sec",
         f"{best[1]['n_cdc']} chunks"),
    ):
        lo, hi = best[1][key], best[4][key]
        sp = lo / hi if hi else float("inf")
        lines.append(
            f"| {label} — {extra} | {lo} | {hi} | {sp:.2f}x | {sp / 4:.2f} |"
        )
    lines += [
        "",
        "All are pure DataFrame plans (PLANS.md asserts the",
        "exchange keys and zero Python stages); the efficiency ceiling on",
        "this host is the same hardware inflation measured for the crawl",
        "kernel (BENCH/BASELINE.md section 2b).",
        "",
        "Read the ratios against the walls: rows whose local[1] wall is",
        "already ~a second (line_dedup, temperature_mix,",
        "hamming_near_dups — 60k banded hashes are three tiny jobs —",
        "perplexity_buckets — its 60k-row global rank finishes in the",
        "checkpoint+two-exchange job constants) or a chain of",
        "small driver jobs (pq_topk = codebook collect + encode scan +",
        "TakeOrdered, each with fixed scheduling cost) measure per-job",
        "constants at this corpus size, not the operators' scaling —",
        "their plans are single-exchange or zero-exchange narrow passes",
        "(PLANS.md) whose volume term parallelizes like gopher_rules'",
        "does once the data, not the job count, dominates.",
        "",
    ]
    path = os.path.join(REPO, "BENCH", "OPS_SCALING.md")
    with open(path, "w") as f:
        f.write("\n".join(lines))
    print(json.dumps({k: best[k] for k in best}, indent=2))
    print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
