"""Run one workload of the search benchmark and print its metrics.

    python3 searchbench/run.py --workload search_serve --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root.  Inputs are generated from ``--seed``; the
stores, Spark scratch space and the span dump live under ``.searchbench/``
in the current directory, which is emptied at the start of every run.  The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a traced run with ``--trace 1``.  The lines before it
give every metric of the workload by name, with its unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _environment(work: str) -> None:
    """Spark scratch space and temp files inside the work directory; the
    core count is the CPUs this process may run on."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir="
        + os.path.join(work, "tmp") + " pyspark-shell")


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit: the JVM ends when its stdin pipe closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _mean(xs):
    return statistics.fmean(xs) if xs else float("nan")


PRIMARY = {"bulk_ingest": "build", "search_serve": "search",
           "ingest_while_serving": "admit"}
TIMED = ("build", "search", "ann", "admit")


def _loop_totals(b) -> tuple[float, float]:
    """Wall and CPU seconds of the timed calls of the loop (checks and
    warm-up excluded)."""
    s = b.samples
    return (sum(sum(s.get(k + "_ms", [])) for k in TIMED) / 1e3,
            sum(sum(s.get(k + "_cpu_ms", [])) for k in TIMED) / 1e3)


def end_to_end(b, workload: str) -> dict:
    """The result metrics of an untraced run, the same for every workload:
    set-up time; the median CPU time of the workload's primary call (a
    batch build, a ``search()`` call, an admitted batch); and the CPU time
    per unit of work of the timed loop (a doc built, a read call, a batch
    doc admitted and the reads after it).  CPU time is this process plus
    its JVM and Python workers."""
    _, cpu = _loop_totals(b)
    return {
        "setup_s": (b.values["setup_s"], "s"),
        "call_cpu_ms": (statistics.median(
            b.samples[PRIMARY[workload] + "_cpu_ms"]), "ms"),
        "unit_cpu_ms": (cpu * 1e3 / b.values["units"], "ms"),
    }


def named_lines(b, workload: str) -> list[str]:
    """The workload's named metrics: what users of the two paths see."""
    from report import percentile
    s = b.samples
    out = [f"setup_s: {b.values['setup_s']:.4f} s "
           f"(set-up build {b.values['setup_build_s']:.4f} s)"]
    wall, _ = _loop_totals(b)
    if workload == "bulk_ingest":
        out.append(f"ingest_docs_per_s: {b.values['units'] / wall:.4f} "
                   f"docs/s (builds={len(s['build_ms'])})")
    else:
        out.append(f"work_per_s: {b.values['units'] / wall:.4f} 1/s "
                   f"(units={b.values['units']})")
    for name, key in (("search", "search_ms"), ("ann", "ann_ms")):
        xs = s.get(key, [])
        if xs:
            p90 = percentile(xs, 90)
            out.append(f"{name}_p50_ms: {percentile(xs, 50):.4f} ms (n={len(xs)})")
            out.append(f"{name}_p90_ms: " + (f"{p90:.4f} ms" if p90 is not None
                       else "n/a, fewer than 10 samples beyond p90")
                       + f" (n={len(xs)})")
    if s.get("ann_recall"):
        out.append(f"ann_recall_at_10: {_mean(s['ann_recall']):.4f} ratio "
                   f"(n={len(s['ann_recall'])})")
    if s.get("admit_ms"):
        out.append("admit_batch_p50_s: "
                   f"{statistics.median(s['admit_ms']) / 1e3:.4f} s "
                   f"(n={len(s['admit_ms'])})")
    dups = s.get("dup_recall", []) + s.get("admit_dup_recall", [])
    if dups:
        out.append(f"dup_recall: {_mean(dups):.4f} ratio (n={len(dups)})")
    out.append(f"peak_rss_mb: {peak_rss_mb(b.spark):.1f} MB")
    out.append(f"failed_frac: {b.failed / max(1, b.attempted):.4f} ratio "
               f"(attempted={b.attempted})")
    return out


def per_layer(b) -> dict:
    from spans import layer_totals
    T = layer_totals(b.tracer.spans)
    empty = {"calls": 0, "self_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0,
             "tasks_failed": 0, "incl_jobs": 0, "incl_tasks": 0, "counts": {}}

    def lay(name):
        return T.get(name, empty)

    def ratio(name, num, den):
        c = lay(name)["counts"]
        return c.get(num, 0) / c[den] if c.get(den) else 0.0

    def per_call(name, key):
        t = lay(name)
        return t[key] / t["calls"] if t["calls"] else 0.0

    m = {}

    def s(name):
        m[name + ".s"] = (lay(name)["self_s"], "s")

    def ms(name):
        m[name + ".ms"] = (per_call(name, "self_s") * 1e3, "ms")

    def count(name, key, suffix, unit="count"):
        m[f"{name}.{suffix}"] = (lay(name)[key], unit)

    s("session.get_spark")
    s("operators.chunking.chunk_documents")
    m["operators.chunking.chunk_documents.rows_out"] = (
        lay("operators.chunking.chunk_documents")["counts"].get("rows_out", 0),
        "count")
    s("functions.text.cleanse_filter")
    m["functions.text.cleanse_filter.kept_ratio"] = (
        ratio("functions.text.cleanse_filter", "kept", "rows_in"), "ratio")
    s("embedding.embed_udf")
    m["embedding.embed_udf.null_ratio"] = (
        ratio("embedding.embed_udf", "nulls", "rows_in"), "ratio")
    ms("embedding.embed_text")
    ing = "plans.pipeline.ingest_documents"
    s(ing)
    count(ing, "incl_jobs", "jobs")
    count(ing, "incl_tasks", "tasks")
    for name in ("operators.dedup.minhash_lsh_pairs",
                 "operators.dedup.duplicate_clusters"):
        s(name)
        count(name, "jobs", "jobs")
    m["operators.dedup.minhash_lsh_pairs.pairs"] = (
        lay("operators.dedup.minhash_lsh_pairs")["counts"].get("pairs", 0),
        "count")
    s("operators.dedup.write_band_index")
    m["operators.dedup.write_band_index.bytes"] = (
        lay("operators.dedup.write_band_index")["counts"].get("bytes", 0),
        "bytes")
    adm = "operators.dedup.ingest_batch_against_index"
    s(adm)
    count(adm, "jobs", "jobs")
    m[adm + ".admit_ratio"] = (ratio(adm, "admitted", "offered"), "ratio")
    wn = "operators.nsw.write_nsw_index"
    s(wn)
    count(wn, "jobs", "jobs")
    count(wn, "tasks", "tasks")
    m[wn + ".bytes_per_vector"] = (ratio(wn, "bytes", "vectors"), "bytes")
    for name in ("operators.nsw.nsw_stored_knn", "operators.knn.knn",
                 "operators.rerank.rerank", "plans.pipeline.search"):
        ms(name)
        m[name + ".jobs_per_query"] = (per_call(name, "incl_jobs"), "count")
        if name in ("operators.nsw.nsw_stored_knn", "operators.knn.knn"):
            m[name + ".tasks_per_query"] = (per_call(name, "incl_tasks"),
                                            "count")
    up = "operators.nsw.upsert_nsw_index"
    s(up)
    count(up, "jobs", "jobs")
    m[up + ".bytes"] = (lay(up)["counts"].get("bytes", 0), "bytes")
    m["stores.chunks.bytes_per_input_byte"] = (
        ratio(ing, "chunk_bytes", "input_bytes"), "ratio")
    for k in ("jobs", "stages", "tasks", "tasks_failed"):
        m["spark." + k] = (sum(t[k] for t in T.values()), "count")
    m["tracing.overhead_s"] = (b.values["tracing.overhead_s"], "s")

    def every(key):     # samples of the loop, warm-up and probe together
        return [x for k, xs in b.samples.items()
                if k.rsplit(".", 1)[-1] == key for x in xs]

    m["operators.nsw.nsw_stored_knn.recall_at_10"] = (
        _mean(every("ann_recall")), "ratio")
    m["operators.dedup.duplicate_clusters.dup_recall"] = (
        _mean(every("dup_recall")), "ratio")
    m[adm + ".dup_recall"] = (_mean(every("admit_dup_recall")), "ratio")
    m["process.peak_rss_mb"] = (peak_rss_mb(b.spark), "MB")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".searchbench")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    sys.path[:0] = [HERE, ROOT]

    import workloads
    from report import result_line, summary_lines
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from "
                 f"{sorted(workloads.WORKLOADS)}")
    b = workloads.Bench(None, Tracer(None, bool(args.trace)), work,
                        traced=bool(args.trace))
    try:
        workloads.WORKLOADS[args.workload](
            b, args.seed, args.seconds,
            workloads.SIZES[args.size][args.workload])
        metrics = per_layer(b) if args.trace else end_to_end(b, args.workload)
        for line in named_lines(b, args.workload) + summary_lines(b.samples):
            print(line)
        print("checks:", " ".join(sorted(b.checked)))
        for f in b.failures:
            print("FAILED", f)
        with open(os.path.join(work, "samples.json"), "w") as fh:
            json.dump(b.samples, fh)
        if args.trace:
            b.tracer.dump(os.path.join(work, "spans.json"))
            for name, (v, unit) in metrics.items():
                print(f"{name}: {v:.6g} {unit}")
        print(result_line(b.failed == 0, b.attempted, b.failed, metrics))
    finally:
        if b.spark is not None:
            _stop(b.spark)
        for d in os.listdir(work):
            if d not in ("spans.json", "samples.json"):
                shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
