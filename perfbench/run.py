#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest|sweep --seed N --seconds S --trace 0|1

Builds the engine from source on first use (perfbench/build.py), prepares
the workload's inputs from the seed, runs it in one JVM on a
`graft.util.Sessions.local(nproc)` session, checks the outputs, and prints
the metrics: a readable report, then as the last line one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics with
--trace 0, the per-layer ledger with --trace 1). Exits 1 if any output
check fails, 2 if the run cannot start. See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
from benchlib import ledger, oracle, stats  # noqa: E402

WORKLOADS = ("ingest", "sweep")
# library tuning switches; numbers must come from the defaults
TUNING_VARS = ("GRAFT_SHUFFLE_FACTOR", "GRAFT_FINAL_MODE", "GRAFT_NO_CONCURRENT_STAGES")
HEAP = "4g"
# the sweep reads the repo's TPC-H-like fixture tables at scale factor 0.01
SWEEP_DATA = HERE / "data" / "sf0.01"
# stage row counts of each seed's Pipeline.run, recorded by perfbench/expect.py
EXPECTED_STAGES = HERE / "expected" / "ingest_stages.json"
RUN_LIMIT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class RunError(Exception):
    pass


def git_commit():
    try:
        out = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def run_jvm(classes, args, run_dir, timeout_s):
    """Run graft.perfbench.Main; returns its result.json as a dict."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
           + opens + ["-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.Main"]
           + [str(a) for a in args])
    (run_dir / "tmp").mkdir()
    env = dict(os.environ)
    # Scratch locations only, so that the run reads and writes inside its
    # checkout: Spark's local dirs default to /tmp, and the library's
    # streaming scratch to /dev/shm. Both move to disk under the run dir.
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    env["GRAFT_STREAM_SCRATCH"] = str(run_dir / "stream")
    log_path = run_dir / "jvm.log"
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=timeout_s)
        except subprocess.TimeoutExpired:
            raise RunError(f"the JVM did not finish within {timeout_s:.0f} s")
    if proc.returncode != 0:
        tail = log_path.read_text(errors="replace")[-3000:]
        raise RunError(f"the JVM exited with code {proc.returncode}:\n{tail}")
    result = run_dir / "result.json"
    return json.loads(result.read_text()) if result.exists() else None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is missing."""
    try:
        fields = [int(x) for x in pathlib.Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7], sum(fields)


def expected_stages(seed):
    """The stored stage row counts of `seed`, or None when it has none."""
    table = json.loads(EXPECTED_STAGES.read_text())
    return table["stages"].get(str(seed)), table


def ingest_report(args, result, record):
    ops = result["ops"]
    want, table = expected_stages(args.seed)
    corpus = {k: record[k] for k in ("conversations", "hub_frac")}
    if corpus != {k: table[k] for k in corpus}:
        raise RunError(f"{EXPECTED_STAGES} holds counts for another corpus than {corpus}")
    record["stage_counts"] = "unchecked" if want is None else "checked"
    failures = []
    failed = 0
    for i, op in enumerate(ops):
        errors = list(op["errors"])
        if want is not None and op["stages"] != want:
            errors.append(f"stage rows {op['stages']}, seed {args.seed} has {want} stored")
        failures += [f"op {i}: {e}" for e in errors]
        failed += bool(errors)
    named = {
        "setup_s": (stats.median(result["setup_s"]), "s"),
        "turns_per_s": (stats.median([op["turns"] / op["wall_s"] for op in ops]), "1/s"),
        "stored_bytes_per_turn": (stats.median([op["stored_bytes"] / op["turns"] for op in ops]), "B"),
        "run_wall_s": (stats.median([op["wall_s"] for op in ops]), "s"),
    }
    e2e = {"setup_s": named["setup_s"], "op_s": named["run_wall_s"],
           "items_per_s": named["turns_per_s"]}
    return e2e, named, len(ops), failed, failures


def oracle_counts(run_dir):
    """Row counts of every query's DuckDB oracle over the sweep tables. The
    tables are fixed, so the counts are computed once per oracle text and
    kept in the build dir.
    """
    sql_text = (run_dir / "oracle_sql.json").read_text()
    h = hashlib.sha256(sql_text.encode())
    for p in sorted(SWEEP_DATA.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    path = build.build_dir() / "expected" / f"oracle-rows-{h.hexdigest()[:16]}.json"
    if path.exists():
        return json.loads(path.read_text())
    con = oracle.connect(SWEEP_DATA, run_dir / "tmp")
    counts = oracle.row_counts(con, json.loads(sql_text))
    con.close()
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(counts, sort_keys=True))
    return counts


def sweep_report(result, expected_rows):
    """Checks every query of the warm-up and the timed passes; the metrics are
    medians over the timed passes.
    """
    passes = [op["queries"] for op in result["ops"]]
    failures = []
    failed = 0
    for label, queries in [("warm-up", result["warmup"])] + [
            (f"pass {i}", qs) for i, qs in enumerate(passes)]:
        for q in queries:
            want = expected_rows.get(q["name"])
            problem = None
            if q["error"]:
                problem = q["error"]
            elif isinstance(want, str):
                problem = want
            elif want is not None and want != q["rows"]:
                problem = f"{q['rows']} rows, oracle has {want}"
            if problem:
                failed += 1
                failures.append(f"{label} {q['name']}: {problem}")
    totals = [sum(q["ms"] for q in qs) / 1e3 for qs in passes]
    total_s = stats.median(totals)
    named = {
        "setup_s": (stats.median(result["setup_s"]), "s"),
        "total_s": (total_s, "s"),
        "p50_ms": (stats.median([q["ms"] for qs in passes for q in qs]), "ms"),
        "queries_per_s": (stats.median([len(qs) / t for qs, t in zip(passes, totals)]), "1/s"),
    }
    e2e = {"setup_s": named["setup_s"], "op_s": named["total_s"],
           "items_per_s": named["queries_per_s"]}
    attempted = len(result["warmup"]) + sum(len(qs) for qs in passes)
    return e2e, named, attempted, failed, failures


def traced_metrics(args, result, run_dir, turns, counts):
    """The per-layer metrics and what the ledger's own checks found."""
    records = ledger.load(run_dir / "trace.jsonl")
    if args.workload == "ingest":
        untraced, traced = result["sequential_untraced_s"], result["sequential_traced_s"]
        trace = {"overhead_pct": 100.0 * (traced - untraced) / untraced,
                 "traced_wall_s": traced, "untraced_wall_s": result["ops"][0]["wall_s"]}
    else:
        untraced, traced = result["overhead_untraced_ms"], result["overhead_traced_ms"]
        trace = {"overhead_pct": 100.0 * (traced - untraced) / untraced,
                 "traced_wall_s": result["ops"][0]["wall_s"]}
    metrics = ledger.analyze(records, turns, counts, trace)
    return metrics, [f"ledger: {p}" for p in ledger.problems(records, metrics)]


def run(args):
    bad = [v for v in TUNING_VARS if v in os.environ]
    if bad:
        raise RunError(f"refusing to run with {', '.join(bad)} set: numbers must come from "
                       "the library's defaults")
    classes, digest = build.ensure_built()
    started = time.monotonic()
    nproc = len(os.sched_getaffinity(0))
    run_dir = build.build_dir() / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        jvm_args = [args.workload, args.seed, args.seconds, args.trace, run_dir, nproc]
        if args.workload == "sweep":
            jvm_args.append(SWEEP_DATA)
        # the sweep keeps time for its first DuckDB oracle pass
        budget = RUN_LIMIT_S - (time.monotonic() - started) - (20 if args.workload == "sweep" else 0)
        ticks0 = cpu_ticks()
        result = run_jvm(classes, jvm_args, run_dir, budget)
        ticks1 = cpu_ticks()
        if result is None:
            raise RunError("the JVM wrote no result")
        record = dict(result["record"], heap=HEAP, git_commit=git_commit(), source_hash=digest)
        if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
            # CPU time the hypervisor gave to others while the JVM ran
            record["cpu_steal_pct"] = round(100 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 2)
        walls = [op["wall_s"] for op in result["ops"]]
        if args.workload == "ingest":
            e2e, named, attempted, failed, failures = ingest_report(args, result, record)
            turns, counts = result["record"]["corpus_turns"], {}
        else:
            e2e, named, attempted, failed, failures = sweep_report(result, oracle_counts(run_dir))
            record["tables"] = oracle.table_rows(SWEEP_DATA)
            turns = 4 * record["tables"]["customer"]  # TpchKg: a four-turn script per customer
            counts = {}
        layer_metrics = None
        if args.trace:
            layer_metrics, problems = traced_metrics(args, result, run_dir, turns, counts)
            failures += problems
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in sorted(record.items())))
    for name, (value, unit) in named.items():
        print(f"  {name:<24} {value:>14.4f} {unit}")
    print(f"  {'setups (s)':<24} " + " ".join(f"{w:.3f}" for w in result["setup_s"]))
    print(f"  {'op walls (s)':<24} " + " ".join(f"{w:.3f}" for w in walls))
    passes = [op["queries"] for op in result["ops"] if "queries" in op]
    for i, q in enumerate(passes[0] if passes else []):
        ms = [qs[i]["ms"] for qs in passes]
        print(f"  query {q['name']:<26} {stats.median(ms):>10.1f} ms  {q['rows']} rows  "
              f"[{q['layer']}]  passes: " + " ".join(f"{x:.0f}" for x in ms))
    latencies = [q["ms"] / 1e3 for qs in passes for q in qs] or walls
    tail = stats.tail_percentile(latencies)
    print(f"  {'tail':<24} " + (f"p{tail[0]} = {tail[1]:.4f} s over {tail[2]} samples" if tail else
                                f"none: {len(latencies)} samples, a tail needs 10 beyond it"))
    print(f"  {'error_rate':<24} {failed / attempted:>14.4f} ({failed} of {attempted} failed)")
    if record.get("stage_counts") == "unchecked":
        print(f"  FLAG stage row counts unchecked: {EXPECTED_STAGES.name} holds none for seed "
              f"{args.seed} (record them with perfbench/expect.py)")
    for f in failures:
        print(f"  FAILED {f}")
    if layer_metrics is None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        units = dict(ledger.metric_units())
        metrics = {k: {"value": layer_metrics[k], "unit": u} for k, u in units.items()}
        for k, m in metrics.items():
            print(f"  {k:<36} {m['value']:>16.4f} {m['unit']}")
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    try:
        return run(args)
    except (RunError, build.CompileError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
