"""Benchmark of the dedup engine: one workload per call, run from the
root of a checkout.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  Lines before it name every metric with its unit and
sample count, and carry the context fields (machine canaries).
``--pin`` records the observed output fingerprints for this seed in
``perfbench/pins.json``.  Workload notes: ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUPS = 5
# a fixed, pre-touched heap: peak PSS then tracks what the program holds
# beside it (off-heap, Python workers), not the collector's run-to-run
# heap-growth decisions
HEAP = "1g"


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    return ap.parse_args()


# ------------------------------------------------------------------ memory


def _descendants(root: int) -> list[int]:
    """Every process under ``root``: the JVM and its Python workers (the
    benchmark process itself is left out)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack += children.get(pid, [])
    return out


def _tree_pss_mb(root: int) -> float:
    """Proportional set size of every process under ``root``: pages the
    forked Python workers share are counted once, not once per worker."""
    kb = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            pass
    return kb / 1024


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the JVM and the Python
    workers, reaped children included, plus the main thread of this
    process, which builds the plans."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK") + time.thread_time()


class MemSampler(threading.Thread):
    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self.halt = threading.Event()

    def run(self):
        while not self.halt.wait(0.2):
            self.peak = max(self.peak, _tree_pss_mb(os.getpid()))


# ----------------------------------------------------------------- session


def start_session(work: str):
    from selfclean_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.sql.shuffle.partitions": str(CORES),
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"
                # A short job on a shared host.  C1 only: its JIT then costs
                # little and varies little.  Serial GC: parallel collector
                # threads spin for each other when the host takes a core
                # away, which made CPU time follow the neighbours' load.
                " -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers) to exit: it leaves when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


# ----------------------------------------------------------------- metrics


def layer_metrics(w, spark, n_ops: int, per_layer: list[dict]) -> dict[str, float]:
    from perfbench import tracing as trace

    spans = [s for s in trace.SPANS if s["run_id"].startswith("op")]
    by_id = {s["id"]: s for s in trace.SPANS}
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    units = n_ops / w.unit_ops

    t0 = time.perf_counter()
    stats = trace.group_stats(spark, {s["group"] for s in spans if s["group"]})
    collect_s = time.perf_counter() - t0

    def owner(s):
        while s is not None and not s["group"]:
            s = by_id.get(s["parent"])
        return s

    out: dict[str, float] = {}
    for layer in ("signatures", "candidates", "verify", "components", "queries"):
        mine = [s for s in spans if s["group"] and s["group"].split(":")[1] == layer]
        ids = {s["id"] for s in mine}
        agg = trace.GroupStats()
        for g in {s["group"] for s in mine}:
            agg.add(stats[g])
        wall = sum(dur(s) for s in mine)
        plan = sum(
            dur(s) for s in spans
            if s["name"].startswith("plan:") and (o := owner(by_id.get(s["parent"]))) and o["id"] in ids
        )
        vals = {
            "wall_s": wall, "plan_s": plan, "driver_s": wall - trace.union_s(agg.intervals),
            "exec_run_s": agg.exec_run_s, "exec_cpu_s": agg.exec_cpu_s,
            "shuffle_read_mb": agg.shuffle_read_mb, "shuffle_write_mb": agg.shuffle_write_mb,
            "spill_mb": agg.spill_mb, "jobs": agg.jobs, "tasks": agg.tasks,
        }
        for k, v in vals.items():
            out[f"{layer}.{k}"] = v / units if mine else 0.0
        out[f"{layer}.task_skew"] = agg.task_skew if mine else 0.0

    def total(name):
        return sum(dur(s) for s in spans if s["name"] == name) / units

    for issue in ("near_duplicates", "off_topic_samples", "label_errors"):
        out[f"ranking.{issue}_s"] = total(f"ranking.{issue}")
    out["autoclean.fraction_cut_s"] = total("autoclean.fraction_cut")
    out["ingest.sha_invariant_s"] = total("ingest.sha_invariant")
    runs = [s for s in spans if s["name"] == "pipeline.run"]
    out["pipeline.overhead_s"] = sum(
        dur(r) - sum(dur(s) for s in spans if s["name"] == "stage" and s["parent"] == r["id"])
        for r in runs
    ) / units
    out.update(sketch_ms_per_file(w))
    out.update(w.layer_counts())
    out["trace.collect_s"] = collect_s
    return {m["name"]: float(out.get(m["name"], 0.0)) for m in per_layer}  # 0: layer not run


def sketch_ms_per_file(w) -> dict[str, float]:
    """The sketch kernel's public functions, in-process, on the
    workload's fixed 200-file sample (median of three passes)."""
    from selfclean_spark.functions import sketches

    cfg = w.signature_config()
    seeds = sketches.minhash_seeds(cfg.num_perm, cfg.seed)
    texts = w.sample_texts
    samples: dict[str, list[float]] = {"shingle": [], "minhash": [], "simhash": []}
    for _ in range(3):
        t0 = time.perf_counter()
        shingles = [sketches.shingle(t, cfg) for t in texts]
        t1 = time.perf_counter()
        for s in shingles:
            sketches.minhash_signature(s, seeds)
        t2 = time.perf_counter()
        for s in shingles:
            sketches.simhash_signature(s)
        t3 = time.perf_counter()
        for k, v in zip(samples, (t1 - t0, t2 - t1, t3 - t2)):
            samples[k].append(v * 1e3 / len(texts))
    return {f"sketches.{k}_ms_per_file": statistics.median(v) for k, v in samples.items()}


def end_to_end(cpus, items, setup_walls, recall, peak_mb, attempted, failed) -> dict[str, float]:
    return {
        "setup_s": statistics.median(setup_walls),
        "cpu_ms_per_item": 1e3 * sum(cpus) / sum(items),
        "dup_pair_recall": recall,
        "peak_pss_mb": peak_mb,
        "success_ratio": 1.0 - failed / attempted,
    }


# -------------------------------------------------------------------- run


def run(args, spec: dict) -> dict:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    try:
        return _run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec: dict, work: str) -> dict:
    import bench  # read-only: its canaries tell machine drift from code drift

    from perfbench import gen, tracing as trace, workloads

    pins_path = os.path.join(HERE, "pins.json")
    with open(pins_path) as f:
        pins = json.load(f)
    # --pin records what this commit outputs, so it checks against nothing
    w = workloads.WORKLOADS[args.workload](args.seed, work, {} if args.pin else pins)
    w.prepare()
    canary_dir = f"{work}/canary"
    os.makedirs(canary_dir)
    gen.query_tables(args.seed)[0]["lineitem"].to_parquet(
        f"{canary_dir}/lineitem.parquet", index=False, coerce_timestamps="us"
    )
    phases = {"inputs": time.perf_counter() - T_START}
    # before any session or thread exists: bw_canary forks its workers
    context = {"bw_canary_iters_per_s": bench.bw_canary(p=CORES, seconds=0.25), "phases_s": phases}

    mem = MemSampler()
    mem.start()
    spark, setup_walls = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work)
        w.warmup_job(spark)
        setup_walls.append(time.perf_counter() - t0)
    phases["setup"] = time.perf_counter() - T_START

    if args.trace:
        trace.install()
    walls, cpus, items, failed, errors = [], [], [], set(), []
    start = time.perf_counter()
    i = 0
    while i < w.min_ops or time.perf_counter() - start < args.seconds:
        trace.RUN_ID = f"op{i}"
        try:
            c0 = tree_cpu_s()
            n, wall = w.op(spark, i)
            cpus.append(tree_cpu_s() - c0)
            walls.append(wall)
            items.append(n)
        except Exception as exc:  # noqa: BLE001 — counted, reported, run goes on
            failed.add(i)
            errors.append(f"op {i}: {type(exc).__name__}: {exc}"[:500])
        i += 1
    attempted = i
    phases["loop"] = time.perf_counter() - T_START
    trace.RUN_ID = "check"
    try:
        problems = w.check(spark)
    except Exception as exc:  # noqa: BLE001
        problems = [f"check: {type(exc).__name__}: {exc}"[:500]]
    if problems:
        failed |= w.failed_ops(attempted) or {attempted - 1}
    errors += problems
    phases["check"] = time.perf_counter() - T_START
    # after the workload, so the JVM is warm and the canary times the machine
    t0 = time.perf_counter()
    bench.materialize(bench.canary(spark, canary_dir))
    context["canary_s"] = time.perf_counter() - t0

    if args.trace:
        metrics = layer_metrics(w, spark, attempted, spec["per_layer"])
        metrics["trace.op_wall_s"] = statistics.median(walls) if walls else 0.0
        with open(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(trace.SPANS, f)
    mem.halt.set()
    mem.join()
    stop_jvm(spark)
    phases["stop"] = time.perf_counter() - T_START
    if not args.trace:
        values = end_to_end(
            cpus or [float("nan")], items or [1], setup_walls, w.recall, mem.peak, attempted, len(failed)
        )
        metrics = {m["name"]: values[m["name"]] for m in spec["end_to_end"]}
    context.update(
        workload=args.workload, seed=args.seed, ops=attempted, setup_walls_s=setup_walls,
        walls_s=walls, cpus_s=cpus, errors=errors,
    )
    if args.pin:
        pins.setdefault(args.workload, {})[str(args.seed)] = w.observed_pin
        with open(pins_path, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
    return {
        "context": context,
        "samples": len(walls),
        "result": {
            "correct": not failed and not errors,
            "attempted": attempted,
            "failed": len(failed),
            "metrics": metrics,
        },
    }


def print_result(out: dict, spec: dict) -> None:
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    res = out["result"]
    for name, value in res["metrics"].items():
        print(f"{out['context']['workload']:>20} {name:<36} {value:>14.6g} {units[name]} (n={out['samples']})")
    print(json.dumps(out["context"]))
    res["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()}
    print(json.dumps(res))


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "selfclean_spark")):
        print("perfbench: the selfclean_spark package is not in this checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload == "all":
        return run_all(args, names)
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    print_result(run(args, spec), spec)
    return 0


def run_all(args, names: list[str]) -> int:
    """Every workload in its own process; one combined result line."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
        lines = proc.stdout.rstrip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode or 1
        print("\n".join(lines[:-2]), flush=True)
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


if __name__ == "__main__":
    sys.exit(main())
