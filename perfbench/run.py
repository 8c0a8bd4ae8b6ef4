"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload geo_flagship --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  The run

1. writes the seeded input tables under ``.perfbench_work/`` (inputs.py);
2. sets up: imports the engine, ``plans.session.build_session`` on
   ``local[<cores>]``, ``__spark_entry__._register``, then runs the
   workload's untimed warm-up passes (one for ``geo_flagship``, none
   for ``joins_corpus``, one for any traced run);
3. runs timed passes for ``--seconds`` seconds (at least one) as a
   closed loop with one client: a pass runs the workload's operations
   once, one Spark action at a time, in a fixed order, with
   ``spark.catalog.clearCache()`` before each and the operation's
   persisted frames unpersisted after it;
4. checks every output: each operation's row count and content hash must
   equal the first pass's, and every operation with a DuckDB twin is
   compared with it once, through ``tools/local_verify.compare``, on the
   first pass's output.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` is the separate traced run: it alternates untraced passes
with traced ones (spans around every operator call, plan metrics read
after each action) followed by noop-sink prefix runs, and prints the
per-layer metrics.  It checks determinism only.  Its spans go to
``.perfbench_out/``.

Human-readable lines come first; the last line of standard output is
the JSON result.  The exit status is 0 when the run completes, whether
or not an output check failed (failures are counted in ``failed``);
anything that stops the run exits non-zero without a result.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("geo_flagship", "joins_corpus"))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1,
                   help="input scale; 0.1 gives the sf0.1 test-data sizes")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def say(*parts) -> None:
    print(*parts, flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    p = int(100 * (1 - 10 / n))
    return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


class Recorder:
    """Per-operation timings and output digests across passes, and the
    output checks' tally."""

    def __init__(self) -> None:
        self.first: dict[str, tuple[int, int]] = {}
        self.times: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.ckpt: tuple[int, int, int] | None = None   # files, bytes, rows

    def record(self, op: str, out: tuple[int, int] | None) -> None:
        self.attempted += 1
        if out is None:
            self.failed += 1
            self.notes.append(f"{op}: raised")
            return
        want = self.first.setdefault(op, out)
        if out != want:
            self.failed += 1
            self.notes.append(f"{op}: output {out} differs from the first pass's {want}")

    def check(self, name: str, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.notes.append(f"oracle {name}: " + " | ".join(errors[:3]))


def run_op(spark, op, tracer=None, nodes=None):
    """Compose and run one operation; return (seconds, output or None).
    Traced, the operator calls and planning are one span and the action
    another, and the action's final plan is read afterwards."""
    import workloads
    from measure import plan_nodes

    spark.catalog.clearCache()
    cache: list = []
    out = None
    t0 = time.perf_counter()
    try:
        if tracer is None:
            out = op.action(op.build(spark, cache))
        else:
            with tracer.span(op.name, op.name):
                with tracer.span("compose", op.name):
                    df = op.build(spark, cache)
                    if op.action is workloads.collect:
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("action", op.name):
                    out = op.action(df)
                if op.action is workloads.collect:
                    with tracer.span("plan_metrics", op.name):
                        nodes[op.name] = plan_nodes(spark, df._jdf)
    except Exception:
        traceback.print_exc()
        out = None
    dt = time.perf_counter() - t0
    for c in cache:
        c.unpersist()
    return dt, out


def one_pass(spark, wl, rec: Recorder, keep=None, tracer=None, nodes=None,
             timed: bool = True) -> float:
    """Run every operation once and check its output; return the summed
    operation time.  ``keep`` collects the outputs by operation name."""
    import workloads

    total = 0.0
    for op in wl.ops:
        dt, out = run_op(spark, op, tracer, nodes)
        total += dt
        if timed:
            rec.times.setdefault(op.name, []).append(dt)
        rec.record(op.name, None if out is None else workloads.digest(out))
        if keep is not None and out is not None:
            keep[op.name] = out
        if op.name == "checkpoint_write" and out is not None:
            rec.ckpt = (*workloads.dir_stats(wl.scratch[0]), out[0])
    workloads.clear_scratch(wl)
    return total


def traced_pass(spark, wl, rec: Recorder, tracer, samples: dict[str, list[float]],
                nodes: dict[str, list]) -> float:
    """One traced pass, then the workload's prefix runs; appends this
    pass's per-layer values to ``samples`` and leaves each operation's
    final plan in ``nodes``; returns the traced pass time, summed over
    the operations as an untraced pass's is."""
    import measure
    import workloads

    with tracer.span("pass") as p:
        pass_s = one_pass(spark, wl, rec, tracer=tracer, nodes=nodes)
    prefix_s = {}
    for name, df in workloads.prefixes(spark, wl.name).items():
        spark.catalog.clearCache()
        with tracer.span("prefix:" + name) as s:
            df.write.format("noop").mode("overwrite").save()
        prefix_s[name] = s.end - s.start

    spans = [s for s in tracer.spans if s.start >= p.start]
    action = {s.op: s.end - s.start for s in spans if s.name == "action"}
    v: dict[str, float] = {
        "compose.s": sum(s.end - s.start for s in spans if s.name == "compose"),
        # the tracer's own work inside the traced pass
        "trace.plan_metrics_s": sum(s.end - s.start for s in spans
                                    if s.name == "plan_metrics")}
    for op in wl.ops:
        if op.layer and op.name in action:
            v[op.layer] = action[op.name]
    all_nodes = [n for ns in nodes.values() for n in ns]
    for k, x in measure.python_totals(all_nodes).items():
        v[f"python.{k}"] = x
    for k, x in measure.exchange_totals(all_nodes).items():
        v[f"exchange.{k}"] = x
    for op_name, ns in nodes.items():
        for k, x in measure.exchange_totals(ns).items():
            v[f"{op_name}.exchange.{k}"] = x

    if wl.name == "geo_flagship":
        # PIP candidates are the cover-cell join's rows out; hits are
        # the rows the ray-cast filter above it keeps
        _, cand, hits = measure.join_rows(nodes["flagship_t3_pip_tile"])
        v.update({
            "pip.candidates": cand, "pip.hits": hits,
            "pip.keep_ratio": hits / cand if cand else 0.0,
            "tiles.cells": float(rec.first["flagship_t3_pip_tile"][0]),
            "scan.keys_s": prefix_s["scan"],
            "kernels.t3.self_s": prefix_s["t3"] - prefix_s["scan"],
            "pip.self_s": prefix_s["pip"] - prefix_s["t3"],
            "tiles.self_s": prefix_s["tiles"] - prefix_s["pip"],
            # what the collect adds to the rollup's noop run
            "tiles.collect_s": action["flagship_t3_pip_tile"] - prefix_s["tiles"],
        })
    else:
        # radius and bbox fold their exact predicate into the last
        # join's condition: kept share = that join's rows out ÷ rows in
        for op_name, key in (("radius_join", "knn.radius.keep_ratio"),
                             ("bbox_join", "bboxjoin.keep_ratio")):
            cand, kept, _ = measure.join_rows(nodes.get(op_name, []))
            v[key] = kept / cand if cand else 0.0
        v["textdedup.minhash_sig_s"] = prefix_s["minhash_sig"]
        v["curation.dup_grams_s"] = prefix_s["dup_grams"]
    for k, x in v.items():
        samples.setdefault(k, []).append(x)
    return pass_s


def layer_metrics(wl, rec: Recorder, samples: dict[str, list[float]], setup: dict,
                  untraced: list[float], traced: list[float], ns: float | None,
                  pass_rows: int) -> dict:
    m = {k: median(xs) for k, xs in samples.items()}
    m["session.build_s"] = setup["session_s"]
    m["register.cold_s"] = setup["register_s"]
    m["pass.cold_s"] = setup["warm_s"]
    if ns is not None:
        # the flagship's pass rows are its derived points
        m["geodesy.gk_to_wgs84.ns_per_pt"] = ns
        m["kernels.t3.crossing_s"] = m["kernels.t3.self_s"] - pass_rows * ns / 1e9 / cores()
    if rec.ckpt:
        files, size, rows = rec.ckpt
        m.update({"checkpoint.files": files, "checkpoint.bytes": size,
                  "checkpoint.bytes_per_row": size / rows})
    m["trace.pass_s"] = median(traced)
    m["trace.untraced_pass_s"] = median(untraced)
    m["trace.overhead_s"] = median(traced) - median(untraced)
    return m


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
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
    SparkContext._gateway = None
    SparkContext._jvm = None


def report(a, wl, rec: Recorder, e2e: dict, units: dict, passes: list[float],
           setup: dict, pass_rows: int) -> None:
    say(f"workload {a.workload}: closed loop, 1 client, local[{cores()}], "
        f"{len(passes)} timed passes of {len(wl.ops)} operations, "
        f"{pass_rows} input rows per pass")
    for op in wl.ops:
        rows, h = rec.first.get(op.name, (-1, -1))
        ts = rec.times.get(op.name, [])
        say(f"  op {op.name}: rows={rows} hash={h} median={median(ts):.3f} s n={len(ts)}")
    tail = tail_percentile(passes)
    tail_s = (f"p{tail[0]} {tail[1]:.3f} s" if tail
              else "no percentile has 10 samples beyond it")
    say(f"  pass_s: median {median(passes):.3f} s, {tail_s}, n={len(passes)}, "
        f"all {[round(x, 3) for x in passes]}")
    say("  setup_s parts: " + ", ".join(f"{k} {v:.3f}" for k, v in setup.items()))
    # the first pass run, warm-up or timed, is every plan's first execution
    say(f"  cold pass: {setup['warm_s'] or passes[0]:.3f} s")
    for k, v in e2e.items():
        say(f"  {k} = {v:.4f} {units[k]}")
    say(f"  failed_share = {rec.failed}/{rec.attempted} = {rec.failed / rec.attempted:.4f}")
    if rec.ckpt:
        files, size, rows = rec.ckpt
        say(f"  stored_bytes_per_row = {size / rows:.4f} B/row "
            f"({size} B in {files} files, {rows} rows)")
    for n in rec.notes:
        say(f"  FAILED {n}")


def twin_errors(op, got, want) -> list[str]:
    """``tools/local_verify.compare`` of an operation's output with its
    twin's, leaving out ``op.oracle_skip`` and comparing the
    ``op.oracle_tol`` columns within their tolerance."""
    from tools.local_verify import compare

    got = got.drop(columns=list(op.oracle_skip))
    if not op.oracle_tol or sorted(got.columns) != sorted(want.columns):
        return compare(op.name, got, want)
    exact = [c for c in got.columns if c not in op.oracle_tol]
    errors = compare(op.name, got[exact], want[exact])
    if errors:
        return errors
    got = got.sort_values(exact, ignore_index=True)
    want = want.sort_values(exact, ignore_index=True)
    for c, tol in op.oracle_tol.items():
        d = float((got[c] - want[c]).abs().max())
        if not d <= tol:
            errors.append(f"col {c}: max |spark - oracle| = {d} > {tol}")
    return errors


def oracle_checks(wl, outputs: dict, data_dir: str, rec: Recorder) -> None:
    """Compare every operation that has a DuckDB twin with it."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    try:
        con.execute("SET memory_limit='2GB'")
        con.execute(f"SET threads TO {cores()}")
        con.execute(f"SET temp_directory='{data_dir}/duckdb_tmp'")
        for t in entrymod.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        registered = entrymod.oracle_sql()
        for op in wl.ops:
            if op.oracle is None or op.name not in outputs:
                continue
            try:
                want = con.execute(op.oracle(registered)).df()
                errors = twin_errors(op, outputs[op.name], want)
            except Exception as e:
                traceback.print_exc()
                errors = [f"{type(e).__name__}: {e}"[:300]]
            rec.check(op.name, errors)
    finally:
        con.close()


def run(a: argparse.Namespace, work: Path) -> dict:
    t_import = time.perf_counter()
    import inputs
    import measure
    import workloads
    from geocoordinateconverter_spark.plans.session import build_session

    import __spark_entry__ as entrymod
    import_s = time.perf_counter() - t_import

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}

    t = time.perf_counter()
    data_dir = str(work / "data")
    counts = inputs.write(a.seed, data_dir, a.sf)
    say(f"inputs: seed={a.seed} salt={inputs.key_salt(a.seed)} sf={a.sf} "
        f"{counts} in {time.perf_counter() - t:.2f} s")

    wl = workloads.WORKLOADS[a.workload](str(work))
    pass_rows = sum(counts[op.input_table] * op.input_mult for op in wl.ops)
    rec = Recorder()
    tracer = measure.Tracer()
    samples: dict[str, list[float]] = {}
    untraced: list[float] = []
    traced: list[float] = []
    outputs: dict = {}
    plans: dict[str, list] = {}

    with measure.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = build_session("perfbench", cores=cores(), shuffle_partitions=cores(),
                              extra={"spark.local.dir": str(work / "local"),
                                     "spark.sql.warehouse.dir": str(work / "warehouse"),
                                     "spark.driver.extraJavaOptions":
                                         f"-Djava.io.tmpdir={work / 'tmp'}"})
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        entrymod._register(spark, data_dir)
        t2 = time.perf_counter()
        # warm-up: the workload's untimed passes.  The traced run always
        # warms up once, so that its traced and untraced passes are both
        # warm.  The first pass run, warm-up or timed, keeps its outputs:
        # every later pass must repeat them and the DuckDB twins match them.
        warm_s = 0.0
        for _ in range(1 if a.trace else wl.warm_passes):
            warm_s += one_pass(spark, wl, rec, keep=outputs, timed=False)
        setup = {"import_s": import_s, "session_s": t1 - t0,
                 "register_s": t2 - t1, "warm_s": warm_s}
        say("setup: " + ", ".join(f"{k} {v:.2f}" for k, v in setup.items()))
        t_end = time.perf_counter() + a.seconds
        while not untraced or time.perf_counter() < t_end:
            untraced.append(one_pass(spark, wl, rec, keep=None if outputs else outputs))
            if a.trace:
                traced.append(traced_pass(spark, wl, rec, tracer, samples, plans))
        ns = (workloads.t3_ns_per_point(spark)
              if a.trace and wl.name == "geo_flagship" else None)
        stop_spark(spark)
    if not a.trace:   # the traced run checks determinism only
        t = time.perf_counter()
        oracle_checks(wl, outputs, data_dir, rec)
        say(f"oracle checks: {time.perf_counter() - t:.2f} s")

    passes = untraced
    # The JVM's resident size follows G1's heap sizing and swung 2.2 to
    # 3.4 GB between runs of identical work, so the bounded memory metric
    # is the Python side (driver + UDF workers), steady within 1 %; the
    # whole tree's peak and the JVM's are reported beside it.
    e2e = {
        "rows_per_s": pass_rows / median(passes),
        "pass_s": median(passes),
        "setup_s": sum(setup.values()),
        "python_peak_mb": rss.hwm("python")[1] / 2**20,
        "peak_rss_mb": rss.peak / 2**20,
        "jvm_peak_mb": rss.hwm("java")[1] / 2**20,
    }
    units = {**e2e_units, "peak_rss_mb": "MB", "jvm_peak_mb": "MB"}
    report(a, wl, rec, e2e, units, passes, setup, pass_rows)
    result = {"correct": rec.failed == 0, "attempted": rec.attempted, "failed": rec.failed}
    if not a.trace:
        result["metrics"] = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
        return result
    m = layer_metrics(wl, rec, samples, setup, untraced, traced, ns, pass_rows)
    m["memory.peak_rss_mb"] = e2e["peak_rss_mb"]
    m["memory.jvm_hwm_mb"] = e2e["jvm_peak_mb"]
    out = ROOT / ".perfbench_out" / f"trace-{a.workload}-seed{a.seed}.json"
    tracer.dump(str(out), {
        "workload": a.workload, "seed": a.seed, "metrics": m,
        "plans": {op: [dataclasses.asdict(n) for n in ns] for op, ns in plans.items()}})
    say(f"  tracing overhead: traced pass {m['trace.pass_s']:.3f} s - untraced "
        f"{m['trace.untraced_pass_s']:.3f} s = {m['trace.overhead_s']:.3f} s")
    if wl.name == "geo_flagship":
        # compose, the noop prefix deltas and the tracer's plan reading,
        # against the traced pass (compose + collect action + plan
        # reading): they differ by the collect and by the drift between
        # the prefix runs and the pass
        parts = ("compose.s", "scan.keys_s", "kernels.t3.self_s", "pip.self_s",
                 "tiles.self_s", "trace.plan_metrics_s")
        total = sum(m[k] for k in parts)
        off = abs(total - m["trace.pass_s"]) / m["trace.pass_s"]
        say(f"  layer self times {' + '.join(parts)} = {total:.3f} s of traced "
            f"pass_s {m['trace.pass_s']:.3f} s: off by {off:.3f}, "
            f"{'within' if off <= 0.1 else 'NOT within'} a tenth "
            f"(tiles.collect_s {m['tiles.collect_s']:.3f} s)")
    for op in wl.ops:
        if f"{op.name}.exchange.records" in m:
            say(f"  op {op.name}: " + ", ".join(
                f"exchange.{k} {m[f'{op.name}.exchange.{k}']:.4g}"
                for k in ("shuffle_bytes", "records", "skew")))
    say(f"  spans: {out}")
    # a layer this workload does not run reads 0
    result["metrics"] = {k: {"value": float(m.get(k, 0.0)), "unit": u}
                         for k, u in layer_units.items()}
    return result


def main(argv: list[str] | None = None) -> int:
    a = parse(argv)
    work = ROOT / ".perfbench_work" / f"{a.workload}-s{a.seed}-p{os.getpid()}"
    for d in ("tmp", "local", "data"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, str(ROOT))
    try:
        result = run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    say(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
