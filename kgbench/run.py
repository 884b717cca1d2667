"""KG pipeline benchmark: one workload, one seed, one run.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 12 --trace 0

Run from the repository root. Starts a local Spark session with one
executor thread per core, sets the workload up from ``--seed``, takes
untimed warm-up ops, then runs closed-loop ops (one client) for
``--seconds``. Every op's committed output is checked. The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones named in
BENCHMARK.json; with ``--trace 1`` untraced ops alternate with traced
replays and the metrics are the per-layer ones. A record of every op
(wall, checks, Spark job and stage ids, host CPU shares) and, when
tracing, every span is written under ``.kgbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Data set-ups per run; set-up time is their median (see README.md).
SETUP_REPS = 3

# pipeline stage names in the lineage table, per traced layer span
LINEAGE_STAGES = {
    "extract": ("extract",), "canon": ("alias_cc",), "identity": ("nodes",),
    "link": ("edges",), "dedup": ("near_dup", "audit"), "clusters": ("clusters",),
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: Path, cores: int) -> None:
    """Keep every file the run writes inside ``work`` and make the
    package importable by the Python workers Spark starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        # 4 cores and a few thousand pages: a small heap, far below the
        # machine's RAM, not pre-touched. Heap and young generation are
        # fixed: when the GC sized them, peak RSS swung 1.1-2.7 GB
        # between runs of the same op
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": "-Xms3g -Xmn512m",
        # every JVM, the launcher's too: temp files here, and no
        # hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p),
    })
    import tempfile

    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and its Python worker
    processes, and wait until every one has exited."""
    from pyspark import SparkContext

    from probes import _children

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = []
    if proc is not None:
        todo = [proc.pid]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(_children(pid))
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 15
    for pid in pids[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _op_record(k, traced, wall, res, chk, cpu, jobs):
    return {
        "op": k, "traced": traced, "wall_s": wall,
        "docs": res.docs if res else None, "triples": res.triples if res else None,
        "ok": chk.ok, "precision": chk.precision, "recall": chk.recall, "note": chk.note,
        "job_ids": [j.job_id for j in jobs],
        "stage_ids": sorted({s for j in jobs for s in j.stage_ids}),
        **cpu,
    }


def _layer_values(spans, counts, written, jobs, stages, cores, op_spans):
    """Per-layer numbers of one traced op from its spans and the Spark
    jobs each span covered."""
    from probes import span_jobs

    v = {}
    for layer, sp in spans.items():
        key = "spark" if layer == "root" else layer
        js = span_jobs(sp, jobs)
        sts = [stages[s] for s in {s for j in js for s in j.stage_ids} if s in stages]
        v[f"{key}.wall_s"] = sp.wall_s
        v[f"{key}.jobs"] = len(js)
        v[f"{key}.tasks"] = sum(s.num_tasks for s in sts)
        v[f"{key}.task_s"] = sum(s.run_ms for s in sts) / 1000.0
        v[f"{key}.shuffle_mb"] = sum(s.shuffle_write for s in sts) / 1e6
        v[f"{key}.spill_mb"] = sum(s.spilled for s in sts) / 1e6
    if "canon" in spans:
        # jobs of the concurrent extract/canon phase that carry neither
        # span's job group: 0 when the thread tagging holds
        ex, ca = spans["extract"], spans["canon"]
        lo, hi = min(ex.start, ca.start) * 1000, max(ex.end, ca.end) * 1000
        v["trace.unattributed_jobs"] = sum(
            1 for j in jobs if lo <= j.start_ms <= hi and j.group not in (ex.group, ca.group))
    root = spans["root"]
    v["spark.busy_frac"] = v["spark.task_s"] / (root.wall_s * cores)
    if "fold" in spans:
        v["fold.compute_s"] = spans["fold"].wall_s
    # write time the Spark jobs do not cover: commit, marker, row count
    from probes import dir_stats

    v["snapshot.write_s"] = sum(
        max(0.0, sp.wall_s - sum((j.end_ms - j.start_ms) / 1000.0
                                 for j in span_jobs(sp, jobs)))
        for sp, _path in written)
    sizes = [dir_stats(path) for _sp, path in written]
    v["snapshot.write_mb"] = sum(b for b, _f in sizes) / 1e6
    v["snapshot.files"] = sum(f for _b, f in sizes)
    v["snapshot.read_s"] = sum(s.wall_s for s in op_spans if s.name == "snapshot.read")
    v["lineage.write_s"] = sum(s.wall_s for s in op_spans if s.name == "lineage")
    v.update(counts)
    return v


def _make_inputs(wl_cls, seed: int):
    """The Spark-free part of every set-up repetition: [(inputs, s)]."""
    out = []
    for _ in range(SETUP_REPS):
        t0 = time.time()
        out.append((wl_cls.inputs(seed), time.time() - t0))
    return out


def measure(spark, session_s: float, inputs, args, work: Path, spec: dict) -> dict:
    from probes import (
        RssSampler, SparkCounters, Tracer, cpu_shares, cpu_snap, jvm_pid, median, tail,
    )
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, str(work / "data"))
    cores = spark.sparkContext.defaultParallelism
    reps = []
    for r, (inp, inputs_s) in enumerate(inputs):
        t0 = time.time()
        wl.stage(r, inp)
        reps.append(inputs_s + time.time() - t0)
    t0 = time.time()
    wl.warm()
    warm_s = time.time() - t0
    setup_s = session_s + median(reps) + warm_s

    counters = SparkCounters(spark)
    tracer = Tracer(spark.sparkContext) if args.trace else None
    ops, walls, traced_walls, layer_rows, stage_walls = [], [], [], [], []
    docs_rates, triple_rates = [], []
    precisions, recalls = [], []
    attempted = failed = 0
    with RssSampler(jvm_pid(spark)) as rss:
        t_loop = time.time()
        k = 0
        # closed loop, one client; a traced run takes an untraced and a
        # traced op per round
        while (time.time() - t_loop < args.seconds) or (args.trace and k % 2):
            traced = bool(args.trace) and k % 2 == 1
            attempted += 1
            try:
                wl.prepare(k)
                lo = counters.max_job_id()
                cpu0 = cpu_snap()
                t0 = time.time()
                if traced:
                    chk, spans, counts, written = wl.traced_op(k, tracer)
                    wall, res = spans["root"].wall_s, None
                else:
                    res = wl.op(k)
                    wall = time.time() - t0
                cpu = cpu_shares(cpu0, cpu_snap())
                if not traced:
                    chk = wl.check(res)
                jobs = counters.jobs_after(lo)
            except Exception:
                # an op that raises leaves the workload's state unknown:
                # count it and end the timed window
                traceback.print_exc()
                failed += 1
                ops.append({"op": k, "traced": traced, "ok": False,
                            "note": traceback.format_exc(limit=1)})
                break
            failed += 0 if chk.ok else 1
            precisions.append(chk.precision)
            recalls.append(chk.recall)
            ops.append(_op_record(k, traced, wall, res, chk, cpu, jobs))
            if traced:
                traced_walls.append(wall)
                stages = counters.stages(s for j in jobs for s in j.stage_ids)
                vals = _layer_values(spans, counts, written, jobs, stages, cores,
                                     tracer.of_op(k))
                vals["host.nonguest_frac"] = cpu["nonguest_frac"]
                vals["host.steal_frac"] = cpu["steal_frac"]
                layer_rows.append(vals)
            else:
                walls.append(wall)
                docs_rates.append(res.docs / wall)
                triple_rates.append(res.triples / wall)
                stage_walls.append(wl.untraced_stage_walls(res))
            k += 1
    loop_s = time.time() - t_loop

    final = wl.final_check()
    if final is not None:
        precisions.append(final.precision)
        recalls.append(final.recall)
        if not final.ok:
            failed = attempted
    correct = attempted > 0 and failed == 0

    op_tail, n_ops = tail(walls)
    e2e = {
        "setup_s": setup_s,
        "docs_per_s": median(docs_rates),
        "triples_per_s": median(triple_rates),
        "op_p50_s": median(walls),
        "op_tail_s": op_tail,
        "triple_precision": min(precisions, default=0.0),
        "triple_recall": min(recalls, default=0.0),
        "ok_ops_frac": (attempted - failed) / attempted if attempted else 0.0,
        "peak_rss_mb": rss.peak_mb,
    }
    per_layer = {}
    if args.trace:
        names = {m["name"] for m in spec["per_layer"]}
        per_layer = {n: median(r.get(n, 0.0) for r in layer_rows) for n in names}
        per_layer["trace.overhead_s"] = median(traced_walls) - median(walls)
        per_layer["trace.lineage_ratio"] = _lineage_ratio(layer_rows, stage_walls)
    metrics_spec = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else e2e

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "cores": cores, "session_s": session_s,
        "setup_reps_s": reps, "warm_s": warm_s, "loop_s": loop_s,
        "op_tail_samples": n_ops, "end_to_end": e2e, "per_layer": per_layer,
        "final_check": final.__dict__ if final else None,
        "untraced_stage_walls_s": stage_walls, "ops": ops,
    }
    runs = ROOT / ".kgbench" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    (runs / f"{stem}.json").write_text(json.dumps(record, indent=1, default=str))
    if tracer is not None:
        tracer.dump(str(runs / f"{stem}.spans.jsonl"))
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in metrics_spec
        },
    }


def _lineage_ratio(layer_rows, stage_walls) -> float:
    """Traced span walls over the program's own stage walls (lineage
    ``wall_ms`` of the untraced ops, or the fold's per-batch
    ``wall_ms``), summed over the layers both record."""
    from probes import median

    if any("stream.batch_wall_s" in r for r in layer_rows):
        num = median(r["stream.batch_wall_s"] + r["stream.overhead_s"] for r in layer_rows)
        den = median(r["stream.batch_wall_s"] for r in layer_rows)
        return num / den if den else 0.0
    num = den = 0.0
    for layer, stages in LINEAGE_STAGES.items():
        key = f"{layer}.wall_s"
        if not any(key in r for r in layer_rows):
            continue
        num += median(r[key] for r in layer_rows if key in r)
        den += median(sum(w.get(s, 0.0) for s in stages) for w in stage_walls)
    return num / den if den else 0.0


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "surfactant_spark" / "__init__.py").is_file():
        print(f"kgbench: no surfactant_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        print(f"kgbench: unknown workload {args.workload!r}; one of {sorted(names)}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".kgbench" / "work" / f"{args.workload}-{os.getpid()}"
    _environment(work, cores)
    sys.path[:0] = [str(HERE), str(ROOT)]
    from concurrent.futures import ThreadPoolExecutor

    from workloads import WORKLOADS

    try:
        with ThreadPoolExecutor(1) as pool:
            # inputs are pure Python: make them while the JVM starts
            inputs = pool.submit(_make_inputs, WORKLOADS[args.workload], args.seed)
            t0 = time.time()
            from surfactant_spark.session import get_spark

            spark = get_spark("kgbench", master=f"local[{cores}]")
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.time() - t0
            try:
                result = measure(spark, session_s, inputs.result(), args, work, spec)
            finally:
                _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
