#!/usr/bin/env python3
"""Record the stage row counts that every ingest run is checked against.

    python3 perfbench/expect.py 0-40,101-120,9001

For each seed, one JVM runs `Pipeline.run` exactly as the `ingest`
workload does (same corpus size, generator settings, pipeline config and
session), checks the same invariants, and the stage row counts are merged
into perfbench/expected/ingest_stages.json, keyed by seed. Record them
again only when a change to graft is meant to change a stage's rows.
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402

import build  # noqa: E402
import run as bench  # noqa: E402


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    seeds = parse_seeds(sys.argv[1])
    classes, _ = build.ensure_built()
    run_dir = build.build_dir() / f"expect-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    out = run_dir / "stages.jsonl"
    try:
        bench.run_jvm(classes, ["expect", ",".join(map(str, seeds)), run_dir,
                                len(os.sched_getaffinity(0)), out], run_dir, None)
        lines = [json.loads(x) for x in out.read_text().splitlines()]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    path = bench.EXPECTED_STAGES
    table = json.loads(path.read_text()) if path.exists() else {"stages": {}}
    for line in lines:
        corpus = {k: line[k] for k in ("conversations", "hub_frac")}
        if table["stages"] and corpus != {k: table[k] for k in corpus}:
            sys.exit(f"{path} holds counts for another corpus: {table}")
        table.update(corpus)
        table["stages"][str(line["seed"])] = line["stages"]
    path.parent.mkdir(exist_ok=True)
    path.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")
    print(f"{len(lines)} seeds recorded in {path}")


if __name__ == "__main__":
    main()
