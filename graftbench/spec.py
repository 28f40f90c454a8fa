"""What the graft benchmark runs and reports: workloads, metrics, units.

`python3 graftbench/spec.py` writes BENCHMARK.json at the repository root
from these tables; the self-test checks that the two agree.
"""
import json
import os

COMMAND = ["python3", "graftbench/run.py"]
RUN_SECONDS = 8

# Base corpus sizes (documents, embeddings), in the proportions of the sf0.1
# test corpus; every input is a replica twin of it.
BASE = (500, 250)
INPUTS = {
    # one part file per replica, so scans split across the cores
    "twin": {"sizes": BASE, "replicas": 4},
    # the warm-up input of set-up
    "warm": {"sizes": (300, 300), "replicas": 1},
}

# Each workload is a closed loop with one client: its queries run one at a
# time, in this order, each built and then evaluated through the noop sink.
WORKLOADS = {
    "crawl_refresh": {
        "why": "the eea-crawler refresh path: narrow string and HTML kernels (frontier "
               "Bloom, WARC parse, main content, selector strip, bulk format), no shuffle-heavy "
               "operator",
        "input": "twin", "index": False,
        "queries": {"frontier_bloom": "SyncOps", "warc_parse": "SyncOps",
                    "main_text_blocks": "NormOps", "norm_strip_selectors": "NormOps",
                    "es_bulk_format": "SearchOps"},
    },
    "llm_curate": {
        "why": "LLM-data curation: exact dedup through a shuffle, the checkpointed "
               "GraphOps clustering loop, a bottom-k sample, and ANN over the persisted "
               "IVF index that set-up builds",
        "input": "twin", "index": True,
        "queries": {"dedup_exact": "DedupOps", "dedup_cluster": "GraphOps",
                    "sample_bottomk": "TextAnalysis", "ann_ivf_index": "AnnOps"},
    },
}
# The ANN queries whose recall a traced run measures against exact top-10.
RECALL = ["ann_ivf", "ann_ivf_index", "ann_ivfpq", "ann_pq"]
MODULES = ["SyncOps", "NormOps", "SiteNormalizers", "DedupOps", "GraphOps",
           "TextAnalysis", "AnnOps", "EmbedOps", "SearchOps", "EsQuery"]

# name: (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "pass_s": ("s", "lower", 0.25),
    "cpu_s": ("s", "lower", 0.25),
    "retained_heap_mb": ("MB", "lower", 0.15),
}

# name: (unit, better). Sums over the queries of a traced pass, median over
# the traced passes, unless the name says otherwise.
PER_LAYER = {
    "tables.resolve_s": ("s", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    **{f"module.{m}.wall_s": ("s", "lower") for m in MODULES},
    "catalyst.analyze_s": ("s", "lower"),
    "catalyst.optimize_s": ("s", "lower"),
    "catalyst.plan_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.core_util": ("ratio", "higher"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.input_mb": ("MB", "lower"),
    "exec.shuffle_read_mb": ("MB", "lower"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.shuffle_fetch_wait_s": ("s", "lower"),
    "exec.spill_mb": ("MB", "lower"),
    "exec.peak_exec_mem_mb": ("MB", "lower"),
    "exec.task_skew": ("ratio", "lower"),
    "exec.shuffle_records_per_out_row": ("ratio", "lower"),
    "storage.rdds_live": ("count", "lower"),
    "storage.mem_mb": ("MB", "lower"),
    "ann.index_build_s": ("s", "lower"),
    "ann.index_bytes": ("B", "lower"),
    "ann.index_files": ("count", "lower"),
    "ann.recall_at_10": ("ratio", "higher"),
    "functions.main_container_ns": ("ns", "lower"),
    "functions.strip_selectors_ns": ("ns", "lower"),
    "functions.warc_parse_ns": ("ns", "lower"),
    "functions.bloom_probe_ns": ("ns", "lower"),
    "functions.word_ngrams_ns": ("ns", "lower"),
    "functions.cosine_ns": ("ns", "lower"),
    "functions.nearest_centroid_ns": ("ns", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
}


def benchmark_json():
    return {
        "command": COMMAND,
        "paths": ["graftbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w["why"]} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, (u, b, bound) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b) in PER_LAYER.items()],
    }


if __name__ == "__main__":
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path, "w") as fh:
        json.dump(benchmark_json(), fh, indent=2)
        fh.write("\n")
