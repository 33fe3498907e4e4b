"""Benchmark entry point.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 12 --trace 0

Runs one workload in one process on ``local[<cpus>]``: starts the session,
sets up ``SETUP_REPS`` times, measures for ``--seconds`` and prints, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the run measures untraced, then
traced (after one traced set-up), then untraced again, and reports the
per-layer metrics of the traced phase and the tracing overhead against the
two untraced phases. Details, spans and host load go to
``.perfbench_work/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import common

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "quality": "ratio",
    "top1": "ratio",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "tables.load_ms": "ms",
    "tables.calls_per_op": "count",
    "spark.exec_ms_per_op": "ms",
    "spark.exec_share": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "driver.cpu_ms_per_op": "ms",
    "rag.embed_share": "ratio",
    "rag.plan_share": "ratio",
    "knn.plan_share": "ratio",
    "ann.plan_share": "ratio",
    "ann.rank_centroids_share": "ratio",
    "ann.cells_probed_per_query": "count",
    "ann.rows_scored_per_query": "count",
    "ann.rows_scored_per_result": "count",
    "ann.store_files": "count",
    "ann.store_bytes_per_user_byte": "ratio",
    "rag.embed_udf_share": "ratio",
    "dedup.pairs_share": "ratio",
    "ann.append_share": "ratio",
    "dedup.rows_signed_per_new_doc": "ratio",
    "dedup.false_pairs_per_cycle": "count",
    "trace.overhead_ratio": "ratio",
}

RAG_PLAN = {"rag.search_with_summary", "rag.search", "rag.validate_query", "rag.format_results",
            "rag.assemble_context", "rag.build_prompt", "rag.llm_udf"}


def instrument_targets(wl) -> list[tuple[object, str, str]]:
    """(module, attribute, span name) of every program function traced."""
    rag, tables, knn, ann, dedup = wl.rag, wl.tables, wl.knn, wl.ann, wl.dedup
    out = [(rag, a, f"rag.{a}") for a in (
        "search_with_summary", "search", "validate_query", "embed_query_stub", "format_results",
        "assemble_context", "build_prompt", "llm_udf", "embed_texts_udf")]
    out += [(rag, "load_table", "tables.load_table"), (rag, "knn_scores", "knn.knn_scores"),
            (tables, "load_table", "tables.load_table"),
            (knn, "knn_scores", "knn.knn_scores"),
            (ann, "knn_scores", "knn.knn_scores")]
    out += [(ann, a, f"ann.{a}") for a in (
        "build_ivf_index", "write_ivf_partitioned", "rank_centroids", "ivf_search_parquet",
        "ivf_batch_search_parquet", "ivf_append")]
    out += [(dedup, a, f"dedup.{a}") for a in ("minhash_incremental_pairs", "release_persisted")]
    return out


def per_layer(wl, spans, traced, untraced: list, session_s: float) -> tuple[dict, dict]:
    """Per-layer metrics from the traced phase, and per-span-name detail."""
    from tracing import self_times

    st = self_times(spans)
    by_id = {s.sid: s for s in spans}

    def root(s):
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
        return s

    kind = {s.sid: root(s).name for s in spans}
    wall: dict[str, float] = {}
    nops: dict[str, int] = {}
    for s in spans:
        if s.parent is None:
            wall[s.name] = wall.get(s.name, 0.0) + (s.end - s.start)
            nops[s.name] = nops.get(s.name, 0) + 1

    def total(names, k, own: bool) -> float:
        return sum(st[s.sid] if own else s.end - s.start
                   for s in spans if s.name in names and kind[s.sid] == k)

    def share(names, k=wl.primary, own=True) -> float:
        return total(names, k, own) / wall[k] if wall.get(k) else 0.0

    p = wl.primary
    n_p = nops.get(p, 0)
    loads = [st[s.sid] for s in spans if s.name == "tables.load_table"]
    counts = traced.counts
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
    base = mean([x for ph in untraced for x in ph.latencies])
    m = {
        "session.start_s": session_s,
        "tables.load_ms": mean(loads) * 1000,
        "tables.calls_per_op": sum(1 for s in spans if s.name == "tables.load_table" and kind[s.sid] == p) / max(n_p, 1),
        "spark.exec_ms_per_op": total({"spark.collect"}, p, False) / max(n_p, 1) * 1000,
        "spark.exec_share": share({"spark.collect"}),
        "spark.jobs_per_op": mean([c[0] for c in counts]),
        "spark.stages_per_op": mean([c[1] for c in counts]),
        "spark.tasks_per_op": mean([c[2] for c in counts]),
        "driver.cpu_ms_per_op": mean([c[3] for c in counts]) * 1000,
        "rag.embed_share": share({"rag.embed_query_stub"}),
        "rag.plan_share": share(RAG_PLAN),
        "knn.plan_share": share({"knn.knn_scores"}),
        "ann.plan_share": share({"ann.ivf_search_parquet", "ann.ivf_batch_search_parquet"}),
        "ann.rank_centroids_share": share({"ann.rank_centroids"}),
        "rag.embed_udf_share": share({"rag.embed_texts"}, "cycle", False),
        "dedup.pairs_share": share({"dedup.pairs"}, "cycle", False),
        "ann.append_share": share({"ann.ivf_append"}, "cycle", False),
        "trace.overhead_ratio": (mean(traced.latencies) / base - 1.0) if base else 0.0,
    }
    for k in LAYER_UNITS:
        m.setdefault(k, 0.0)
    m.update(wl.layer_counts(traced))
    detail: dict[str, dict] = {}
    for s in spans:
        d = detail.setdefault(f"{kind[s.sid]}/{s.name}", {"count": 0, "self_ms": 0.0, "incl_ms": 0.0})
        d["count"] += 1
        d["self_ms"] += st[s.sid] * 1000
        d["incl_ms"] += (s.end - s.start) * 1000
    for k, d in detail.items():
        ops = nops.get(k.split("/", 1)[0], 0)
        d["self_ms_per_root_op"] = d["self_ms"] / ops if ops else None
    return m, {"ops": nops, "wall_s": wall, "spans": detail}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not common.program_present():
        print(f"perfbench: the program package {common.PACKAGE!r} is not next to the benchmark",
              file=sys.stderr)
        return 2
    cpus = common.cpu_count()
    common.prepare_environment(cpus)
    from workloads import SETUP_REPS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from tracing import Instrumentation, NullTracer, Tracer

    host_start = common.host_probe()
    t0 = time.perf_counter()
    from ydb_vector_search_demo_spark import session, shipping

    spark = session.get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    # Client threads have no active session, so UDF constructors there skip
    # shipping the package; ship it once from the main thread.
    shipping.ensure_package_on_workers(spark)

    wl = WORKLOADS[args.workload](spark, args.seed)
    tracer = None
    try:
        setup_times = [wl.timed_setup() for _ in range(SETUP_REPS)]
        setup_s = session_s + common.median(setup_times)
        untraced = wl.measure(args.seconds, NullTracer(), None)
        phases = [untraced]
        if args.trace:
            tracer = Tracer()
            inst = Instrumentation(tracer, instrument_targets(wl))
            try:
                wl.timed_setup(tracer)
                traced = wl.measure(args.seconds, tracer, common.JobCounter(spark))
            finally:
                inst.restore()
            # untraced again after the traced phase, so that the overhead is
            # not the JIT warming up between the first two phases
            after = wl.measure(args.seconds, NullTracer(), None)
            phases += [traced, after]
        wl.final_check()
        e2e = wl.e2e(untraced)
        if args.trace:
            metrics, layer_detail = per_layer(wl, tracer.spans, traced, [untraced, after], session_s)
            units = LAYER_UNITS
        else:
            metrics = {k: e2e[k] for k in E2E_UNITS if k != "setup_s"}
            metrics["setup_s"] = setup_s
            layer_detail = None
            units = E2E_UNITS
    finally:
        wl.close()
        common.stop_spark(spark)

    phases.append(wl.checks)
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    out_dir = os.path.join(common.WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "cpus": cpus,
        "session_s": session_s, "setup_reps": wl.setup_parts, "setup_s": setup_s,
        "e2e": e2e, "failed_ratio": failed / attempted if attempted else 0.0,
        "problems": [q for p in phases for q in p.problems],
        "host_start": host_start, "host_end": common.host_probe(),
        "layers": layer_detail, "result": result,
        "latencies_s": [p.latencies for p in phases[:-1]],
    }
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if tracer is not None:
        tracer.dump(stem + "-spans.jsonl")
    print(json.dumps({k: v for k, v in detail.items() if k in ("setup_reps", "e2e", "problems", "host_start", "host_end")},
                     default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
