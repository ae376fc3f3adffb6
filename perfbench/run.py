"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One driver process, ``local[$(nproc)]``, one
closed-loop client: each op starts when the previous one has finished, until
``--seconds`` of timed wall time have passed. With ``--trace 0`` the last
stdout line carries the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` it carries the per-layer metrics, and the spans are written to
``.bench_out/``. A run whose outputs differ from the oracle prints
``"correct": false`` and exits with code 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK_PARENT = os.path.join(REPO, ".bench_work")
OUT_DIR = os.path.join(REPO, ".bench_out")
#: Engine file names that mark a held lock or an unfinished staged write.
STALE_MARKERS = (".__commitlock__", ".__staging__", ".__backup__")


class HygieneError(RuntimeError):
    pass


def declared_metrics() -> dict[str, dict[str, dict]]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "end_to_end": {m["name"]: m for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m for m in spec["per_layer"]},
    }


def stale_entries(root: str) -> list[str]:
    """Paths under ``root`` named like a held lock or a staged write."""
    found = []
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            if any(m in name for m in STALE_MARKERS):
                found.append(os.path.join(dirpath, name))
    return found


def make_work_root() -> str:
    """A fresh work root for this run. Anything left in the parent by an
    earlier run (it removes its own at exit) means that run died without
    cleaning up: fail loudly rather than measure next to its leftovers."""
    os.makedirs(WORK_PARENT, exist_ok=True)
    leftovers = sorted(os.listdir(WORK_PARENT))
    if leftovers:
        raise HygieneError(
            f"stale work directories from an earlier run in {WORK_PARENT}: "
            f"{leftovers}; remove them and rerun")
    work = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=WORK_PARENT)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def isolate_environment(work: str, cpus: int) -> None:
    """Point every scratch location of this process, the JVM it starts and
    the Python workers at the work root, and put the repository root on
    the workers' PYTHONPATH (the callio_paged_api DataSource is imported
    there by module path)."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + old if old else "")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work}/spark-warehouse pyspark-shell")
    # every JVM of the run (launcher and driver): temp files under the work
    # root, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_hwm(pid: int) -> None:
    """Restart ``VmHWM`` of ``pid`` from its current RSS, so the peak read
    at the end covers the timed phase only, not set-up's warm-up."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def instrument(tracer) -> None:
    """Spans around the engine's internal layer calls (traced run only)."""
    from callio_etl_spark import io, snapshots
    from callio_etl_spark.registry import _load_all

    _load_all()  # every engine module is loaded, so every binding is patched
    tracer.patch(io, "acquire_table_lock", "io.lock_acquire")
    tracer.patch(snapshots, "_write_manifest", "snapshots.publish")
    # the snapshot layer's share of a read: resolving the head manifest and
    # building the DataFrame; the query that consumes it is not inside
    tracer.patch(snapshots, "snapshot_read", "snapshots.read")
    for fn in ("snapshot_partition_overwrite", "snapshot_append", "snapshot_upsert_rows",
               "snapshot_delete_rows", "snapshot_delete_partitions"):
        tracer.patch(snapshots, fn, "snapshots.commit")


def snap_files(root: str) -> dict[str, int]:
    """Every file under a ``__snap__`` directory below ``root``, with its size."""
    out = {}
    for dirpath, _, filenames in os.walk(root):
        if "__snap__" in dirpath.split(os.sep):
            for f in filenames:
                p = os.path.join(dirpath, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass  # vacuumed between the listing and the stat
    return out


def run(args) -> dict:
    from perfbench import layers, stats
    from perfbench.trace import Py4jCounter, SparkProbe, Tracer
    from perfbench.workloads import WORKLOADS

    declared = declared_metrics()
    cpus = os.cpu_count() or 1
    work = make_work_root()
    spark = workload = jvm_proc = None
    try:
        isolate_environment(work, cpus)
        t_setup = time.perf_counter()
        from callio_etl_spark.session import get_spark

        spark = get_spark("perfbench", cpus=cpus)
        session_s = time.perf_counter() - t_setup
        spark.sparkContext.setLogLevel("ERROR")
        jvm_proc = spark.sparkContext._gateway.proc
        counter = probe = None
        if args.trace:
            counter = Py4jCounter(spark.sparkContext._gateway._gateway_client)
            probe = SparkProbe(spark, counter)
        tracer = Tracer(bool(args.trace), counter, probe)
        if args.trace:
            instrument(tracer)
        workload = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        workload.setup()
        stale = stale_entries(work)
        if stale:
            raise HygieneError(f"lock or staging left after set-up: {stale}")
        setup_s = time.perf_counter() - t_setup
        print(f"[perfbench] {args.workload} seed={args.seed} set-up {setup_s:.2f}s "
              f"(session {session_s:.2f}s)", file=sys.stderr, flush=True)

        reset_hwm(os.getpid())
        reset_hwm(jvm_proc.pid)
        meta = []  # new __snap__ bytes per traced op
        seen_snap = snap_files(work) if args.trace else {}
        attempted = failed = 0
        done: list[dict] = []
        t0 = time.perf_counter()
        t_end = t0
        while time.perf_counter() - t0 < args.seconds or len(done) % workload.pass_len:
            attempted += 1
            try:
                with tracer.op(workload.name) as rec:
                    workload.op(rec)
            except Exception:
                failed += 1
                traceback.print_exc()
                break  # the service state is unknown after a failed tick
            done.append(rec)
            t_end = time.perf_counter()
            if args.trace:
                with tracer.probe():
                    now = snap_files(work)
                    meta.append(sum(s for p, s in now.items() if p not in seen_snap))
                    seen_snap = now
        wall = t_end - t0
        peak_rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm_proc.pid)) / 1024.0
        workload.verify()

        lat = [o["latency_s"] for o in done]
        if not lat:
            raise RuntimeError("no op completed in the timed phase")
        rows = sum(o.get("rows", 0) for o in done)
        reads = workload.reads or lat
        tail = stats.tail(lat)
        summary = {
            "workload": args.workload, "seed": args.seed, "ops": len(lat),
            "reads": len(reads), "tail_percentile": tail["percentile"],
            "tail_beyond": tail["beyond"], "fail_ratio": failed / attempted,
            "oracle_mismatches": len(workload.mismatches),
            "mismatches": workload.mismatches[:5], "session_start_s": session_s,
        }
        if args.trace:
            metrics = layers.per_layer_metrics(tracer, done, session_s, meta)
            os.makedirs(OUT_DIR, exist_ok=True)
            out = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
            layers.write_trace(out, tracer, metrics, summary)
            summary["trace_file"] = os.path.relpath(out, REPO)
            table = declared["per_layer"]
        else:
            metrics = layers.end_to_end_metrics(
                setup_s, lat, reads, rows, wall, peak_rss_mb)
            table = declared["end_to_end"]
        missing = set(table) - set(metrics)
        extra = set(metrics) - set(table)
        if missing or extra:
            raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                               f"missing {sorted(missing)}, undeclared {sorted(extra)}")
        print("[perfbench] " + json.dumps(summary), flush=True)
        return {
            "correct": not workload.mismatches and not failed,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": table[k]["unit"]} for k in table},
        }
    finally:
        if workload is not None:
            workload.close()
        if spark is not None:
            spark.stop()
            gateway = spark.sparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
        if jvm_proc is not None:
            try:
                jvm_proc.stdin.close()
                jvm_proc.wait(timeout=60)
            except Exception:
                jvm_proc.kill()
                jvm_proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "callio_etl_spark")):
        print(f"perfbench: engine package callio_etl_spark not found under {REPO}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
