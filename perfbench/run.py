"""Benchmark entry point.

    python3 perfbench/run.py --workload nightly_fold --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It starts one Spark session in this
process (the single client), sets up the workload, runs its fixed,
seeded operation sequence, checks every output, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Everything it writes lives under
``.perfbench/`` in the checkout; each run uses a fresh directory there
and removes it at the end, keeping only the span file of a traced run
and the result line.

Noise controls: every inherited ``SPARK_GRAFT_*`` variable is removed
and only the ones below are set, with ``SPARK_GRAFT_CPUS`` equal to
``--cpus`` (default: the host's CPU count). The effective Spark confs
are printed with each run.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mcyj_datapipeline_spark"
# Driver heap, pre-touched as the package does (-Xms = -Xmx plus
# AlwaysPreTouch). The package default is 12g, which every run would
# fault in whole; 2g holds both workloads' working sets.
DRIVER_MEM = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=os.cpu_count())
    p.add_argument("--stage-totals-check", action="store_true",
                   help="traced run: also record tools/measure_structure.py's "
                        "_stage_totals delta around the first operation")
    return p.parse_args(argv)


def isolate_env(cpus: int, work: str) -> list[str]:
    """Drop every inherited SPARK_GRAFT_* knob and pin the few this
    benchmark sets; point every scratch location into ``work``."""
    scrubbed = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in scrubbed:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # the package default plus a JVM temp dir inside the run directory
        "SPARK_GRAFT_DRIVER_JAVA_OPTS":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
    })
    tempfile.tempdir = None  # re-read TMPDIR
    return scrubbed


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_times() -> list[int]:
    """The host's aggregate CPU jiffies (user … steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the two nearest samples."""
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def inventory(dirs: list[str]) -> dict[str, tuple]:
    out = {}
    for root in dirs:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def jvm_pid_of(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def load_stage_totals():
    """``_stage_totals`` from tools/measure_structure.py, read as-is."""
    import importlib.util

    path = os.path.join(ROOT, "tools", "measure_structure.py")
    spec = importlib.util.spec_from_file_location("measure_structure", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._stage_totals


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for each to end."""
    from pyspark import SparkContext

    jvm_pid = jvm_pid_of(spark)
    workers = descendants(jvm_pid)
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in [jvm_pid] + workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and time.monotonic() >= deadline:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    out_root = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=out_root)
    scrubbed = isolate_env(args.cpus, work)
    try:
        return run(args, work, scrubbed, out_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, scrubbed: list[str], out_root: str) -> int:
    import layers
    import workloads
    from spans import NullTracer, SparkProbe, Tracer, catalyst_ms, wrapped

    traced = bool(args.trace)
    tracer = Tracer() if traced else NullTracer()
    wl = workloads.WORKLOADS[args.workload](args.seed, args.seconds, work, tracer)
    targets = wl.trace_targets() if traced else []
    spark = None
    phases = {}  # seconds since process start at the end of each set-up phase
    try:
        try:
            with wrapped(tracer, targets), tracer.span("setup"):
                from mcyj_datapipeline_spark.session import get_spark

                with tracer.span("session.get_spark"):
                    spark = get_spark(app_name="perfbench")
                phases["session_s"] = time.monotonic() - T_START
                with tracer.span("session.first_job"):
                    spark.range(1).collect()
                phases["first_job_s"] = time.monotonic() - T_START
                confs = dict(sorted(spark.sparkContext.getConf().getAll()))
                print(json.dumps({"confs": confs, "scrubbed_env": scrubbed,
                                  "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"]}))
                wl.setup(spark)
        except Exception:
            traceback.print_exc()
            print("perfbench: set-up failed", file=sys.stderr)
            return 1
        # the benchmark's own set-up work (expected answers, set-up checks)
        # is left out
        phases["untimed_s"] = wl.untimed_s
        setup_s = time.monotonic() - T_START - wl.untimed_s
        phases["setup_s"] = setup_s

        probe = SparkProbe(spark) if traced else None
        stage_totals = load_stage_totals() if traced and args.stage_totals_check else None
        crosscheck = None
        lat, units, failed, per_op, ops_log = [], [], 0, [], []
        state_dirs = wl.state_dirs()
        cpu0 = cpu_times()
        with wrapped(tracer, targets):
            for i in wl.op_ids():
                tag = f"perfbench-op-{i}"
                if probe:
                    before = inventory(state_dirs)
                    tool_before = stage_totals(spark) if stage_totals and not per_op else None
                    probe.begin(tag)
                wall0 = time.time()
                t0 = time.perf_counter()
                rows, err = None, None
                try:
                    with tracer.operation(i, wl.op_name(i)):
                        rows = wl.run(i)
                except Exception:
                    err = traceback.format_exc()
                dt = time.perf_counter() - t0
                wall1 = time.time()
                lat.append(dt)
                units.append(wl.units_of(i))
                if probe:
                    # read before the check below, whose jobs are not the operation's
                    counts = probe.end(tag, wall0, wall1)
                    counts["catalyst_ms"] = catalyst_ms(wl.last_df) if err is None else 0.0
                    after = inventory(state_dirs)
                    changed = [p for p, v in after.items() if before.get(p) != v]
                    counts["state_files_rewritten"] = len(changed)
                    counts["state_files_total"] = len(after)
                    counts["state_bytes_rewritten"] = sum(after[p][1] for p in changed)
                    per_op.append({"op": i, "name": wl.op_name(i), "ms": dt * 1e3, **counts})
                    if tool_before is not None:
                        tool_after = stage_totals(spark)
                        crosscheck = {"op": i, "probe": counts, "tool": {
                            k: tool_after[k] - tool_before[k] for k in tool_after}}
                ok = False
                if err is None:
                    try:
                        ok = wl.check(i, rows)
                    except Exception:
                        err = traceback.format_exc()
                if not ok:
                    failed += 1
                    print(f"perfbench: operation {i} ({wl.op_name(i)}) failed"
                          + (f":\n{err}" if err else ": wrong result"), file=sys.stderr)
                ops_log.append([i, wl.op_name(i), round(dt * 1e3, 3), ok])

        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        # share of CPU time taken by other guests while the operations ran
        steal_share = cpu[7] / sum(cpu) if sum(cpu) else 0.0
        jvm_pid = jvm_pid_of(spark)
        rss_mb = sum(vm_hwm_kb(p) for p in [jvm_pid] + descendants(jvm_pid)) / 1024.0
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            "op_p90_ms": (p90(lat) * 1e3, "ms"),
            # documents folded (nightly_fold) or queries answered per second
            "work_per_s": (sum(units) / sum(lat), "1/s"),
            "rss_peak_mb": (rss_mb, "MB"),
            "ok_ratio": ((len(lat) - failed) / len(lat), "ratio"),
        }
    finally:
        if spark is not None:
            stop_spark(spark)

    print(json.dumps({"setup_phases": phases, "steal_share": steal_share, "ops": ops_log}))
    correct = failed == 0 and wl.failed_setup == 0
    if wl.failed_setup:
        print(f"perfbench: {wl.failed_setup} set-up check(s) failed", file=sys.stderr)
    if traced:
        metrics = layers.per_layer(tracer, per_op, e2e, wl)
        path = os.path.join(out_root, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tracer.dump(path, {"per_op": per_op, "end_to_end_traced": e2e, "args": vars(args),
                           "stage_totals_crosscheck": crosscheck})
        print(json.dumps({"trace_file": os.path.relpath(path, ROOT),
                          "self_time_check": layers.self_time_check(tracer)}))
    else:
        metrics = e2e
    result = {
        "correct": correct,
        "attempted": len(lat),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
