"""Linkage benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload person_dedup --seed 1 --seconds 1 --trace 0

Run from the root of a checkout of the repository. The run

1. generates the workload's input from ``--seed`` and writes it as parquet;
2. starts the SparkSession (``local[nproc]``, shuffle partitions = nproc),
   JVM launch included, plus a warm-up UDF job, once: ``setup_s``;
3. times the workload's first pass, the one a fresh process of the
   package's command-line scripts pays: ``wall_s``. Passes after it are
   warm. They run until ``--seconds`` have passed since the first one
   started, and go to the report file only;
4. checks every pass's output outside the timed region: the value-hash is
   the same on every pass, and pairwise F1 >= 0.99 against the
   generator's ground truth;
5. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``).

With ``--trace 1`` the session runs with the event log on and the first
pass is traced: its spans and Spark SQL metrics give the per-layer split
(see ``layers.py``). Its output is also checked against the traffic census
(scored pairs = candidate pairs) and, for a checkpointed workload, against
the single-plan result. An untraced and a traced warm pass follow, for
``trace.overhead_s``. Samples, census, checks, spans and the layer split go
to ``.perfbench/reports/``; every other file the run writes lives under
``.perfbench/tmp-<pid>`` and is removed at exit. ``--smoke`` shrinks every
input to a few dozen rows.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
F1_GATE = 0.99


def _session(cores: int, work: str, event_dir: str | None = None):
    from name_matching_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every JVM file in the checkout: temp files, derby, and the
        # hsperfdata counters HotSpot would otherwise put in /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.eventLog.enabled": "false",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            # Spark 4.1 defaults to rolling zstd logs; read them back plain
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_up(spark) -> None:
    from pyspark.sql import functions as F

    from name_matching_spark.functions.udfs import jaro_winkler_udf

    spark.range(4096, numPartitions=spark.sparkContext.defaultParallelism).select(
        jaro_winkler_udf(F.lit("martha"), F.lit("marhta")).alias("x")
    ).agg(F.sum("x")).collect()


def _start(cores: int, work: str, event_dir: str | None = None):
    """SparkSession start, JVM launch included, plus the warm-up UDF job;
    returns (spark, seconds)."""
    t0 = time.perf_counter()
    spark = _session(cores, work, event_dir)
    _warm_up(spark)
    return spark, time.perf_counter() - t0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _iteration(w, spark, tr, out: str, rss: bool) -> dict:
    from procs import PeakRss

    mon = PeakRss().start() if rss else None
    t0 = time.perf_counter()
    with tr.span("workload"):
        w.run(spark, out, tr)
    return {"wall_s": time.perf_counter() - t0, **(mon.stop() if mon else {})}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (schema test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "name_matching_spark", "__init__.py")):
        print(f"perfbench: no name_matching_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"tmp-{os.getpid()}")
    for d in ("tmp", "local", "inputs", "events", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # takes precedence over spark.local.dir, so a caller's value cannot
    # send shuffle and block files out of the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM runs before the driver JVM's options apply
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    # a terminated run still stops the JVM and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        report = _run(args, WORKLOADS[args.workload], work)
    finally:
        from procs import shutdown_jvm

        try:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
        finally:
            shutdown_jvm()
            shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(base, "reports"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}"
    with open(os.path.join(base, "reports", f"{name}.json"), "w") as f:
        json.dump(report["detail"], f, indent=1, sort_keys=True)
    print(json.dumps(report["line"]))
    return 0


def _run(args, wl_cls, work: str) -> dict:
    from layers import Tracer

    cores = len(os.sched_getaffinity(0))
    w = wl_cls(args.seed, "smoke" if args.smoke else "full", os.path.join(work, "inputs"))
    t0 = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t0

    # a traced run keeps the event log on from the start and traces the
    # cold pass, so its layer split adds up to the same pass as wall_s
    spark, setup_s = _start(cores, work, os.path.join(work, "events") if args.trace else None)
    tracer = Tracer(spark, enabled=bool(args.trace))
    problems: list[str] = []
    samples: list[dict] = []
    hashes: list = []

    def attempt(i: int, tr, rss: bool, keep: bool = False) -> dict:
        out = os.path.join(work, "out", str(i))
        rec = {"i": i}
        try:
            rec.update(_iteration(w, spark, tr, out, rss))
            t0 = time.perf_counter()
            chk = w.check(spark, out, first=(i == 0))
            rec["check_s"] = time.perf_counter() - t0
            hashes.append(chk["hash"])
            rec.update(chk)
            rec["ok"] = _check(rec, hashes, problems, i)
        except Exception as e:  # noqa: BLE001 - a failed run is counted, not fatal
            rec["ok"] = False
            problems.append(f"run {i}: {type(e).__name__}: {str(e)[:300]}")
        if not keep:
            shutil.rmtree(out, ignore_errors=True)
        samples.append(rec)
        return rec

    t_measure = time.perf_counter()
    cold = attempt(0, tracer, rss=not args.trace, keep=bool(args.trace))
    # later passes are warm: they go to the report file only. A traced run
    # takes one untraced and one traced warm pass to set trace.overhead_s.
    if args.trace:
        attempt(1, Tracer(spark, enabled=False), rss=False)
        attempt(2, tracer, rss=False)
    else:
        while time.perf_counter() - t_measure < args.seconds:
            attempt(len(samples), tracer, rss=True)

    wall = cold.get("wall_s", float("nan")) if cold["ok"] else float("nan")
    detail = {
        "workload": w.name, "why": w.why, "seed": args.seed, "cores": cores,
        "size": w.size, "smoke": args.smoke, "input_gen_s": gen_s, "setup_s": setup_s,
        "cold_wall_s": wall,
        "warm_wall_s": _median([s["wall_s"] for s in samples[1:] if s["ok"]]),
        "samples": samples, "problems": problems,
        "note": ("the distributed side of connected_components (more than "
                 "CC_DRIVER_EDGE_CAP = 1M edges) is not reached at these sizes; "
                 "every workload's clustering takes the driver union-find"),
    }
    if args.trace:
        metrics = _traced(w, spark, tracer, samples, detail, problems, work, cores)
    else:
        metrics = {
            "wall_s": (wall, "s"),
            "pairs_per_s": (cold.get("pairs_scored", 0) / wall, "pairs/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (cold.get("peak_rss_mb", float("nan")), "MB"),
            "pairwise_f1": (cold.get("pairwise_f1", float("nan")), "ratio"),
        }
    failed = sum(1 for s in samples if not s["ok"])
    attempted = len(samples)
    detail["fail_ratio"] = failed / attempted
    line = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    detail["result"] = line
    print(f"perfbench {w.name} seed={args.seed}: setup {setup_s:.3f}, passes "
          f"{[round(s.get('wall_s', 0), 3) for s in samples]}, "
          f"fail_ratio {detail['fail_ratio']}, problems {problems}", file=sys.stderr)
    return {"line": line, "detail": detail}


def _check(rec: dict, hashes: list, problems: list, i: int) -> bool:
    bad = []
    if hashes[-1] != hashes[0]:
        bad.append(f"value-hash {hashes[-1]} differs from first run {hashes[0]}")
    for key in ("pairwise_f1", "near_dup_f1"):
        f1 = rec.get(key)
        if f1 is not None and not f1 >= F1_GATE:
            bad.append(f"{key} {f1:.4f} < {F1_GATE}")
    problems += [f"run {i}: {b}" for b in bad]
    return not bad


def _traced(w, spark, tr, samples: list, detail: dict, problems: list, work: str,
            cores: int) -> dict:
    """Census and parity checks on the traced cold pass's output, then the
    per-layer metrics from its spans and the event log."""
    from layers import EventLog, layer_metrics
    from workloads import CHECKPOINT_RANGES

    cold, untraced, traced = samples
    if not all("wall_s" in s for s in samples):  # a pass raised; it counts as failed
        return {k: (float("nan"), u) for k, u in _layer_units().items()}
    out = os.path.join(work, "out", "0")
    t0 = time.perf_counter()
    census = w.census(spark)
    detail["census_s"] = time.perf_counter() - t0
    detail["census"] = census
    bad = []
    if cold.get("pairs_scored") != census["candidate_pairs"]:
        bad.append(f"{cold.get('pairs_scored')} pairs scored, census has "
                   f"{census['candidate_pairs']}")
    if cold["ok"]:
        detail["sink_parity"] = w.parity(spark, out)
        if detail["sink_parity"] is False:
            bad.append("checkpoint sink differs from the single-plan dedup_table result")
    if bad:
        cold["ok"] = False
        problems += [f"cold pass: {b}" for b in bad]
    shutil.rmtree(out, ignore_errors=True)
    spark.stop()  # flushes and closes the event log
    log = EventLog(os.path.join(work, "events"))
    roots = [s["id"] for s in tr.spans if s["name"] == "workload"]
    layers = layer_metrics(log, tr, roots[0], cores, num_ranges=CHECKPOINT_RANGES)
    detail["warm_layers"] = layer_metrics(log, tr, roots[1], cores, num_ranges=CHECKPOINT_RANGES)
    pairs = census["candidate_pairs"]
    layers["trace.overhead_s"] = traced["wall_s"] - untraced["wall_s"]
    layers["blocking.candidate_pairs"] = float(pairs)
    layers["blocking.hot_blocks"] = float(census.get("hot_blocks", 0))
    layers["blocking.largest_block"] = float(census.get("largest_block", 0))
    layers["linkage.distinct_payload_share"] = float(census.get("distinct_payload_share", 0))
    layers["clustering.edges"] = float(cold.get("match_edges", 0))
    layers["scoring.udf_rows_per_pair"] = layers["scoring.udf_rows"] / pairs if pairs else 0.0
    lsh = census.get("lsh_candidates", 0)
    layers["dedup.lsh_candidates"] = float(lsh)
    layers["dedup.rerank_kept_ratio"] = cold.get("near_dups", 0) / lsh if lsh else 0.0
    detail["spans"] = tr.spans
    detail["layers"] = layers
    units = _layer_units()
    return {k: (layers.get(k, 0.0), u) for k, u in units.items()}


def _layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
