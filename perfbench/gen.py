#!/usr/bin/env python3
"""Regenerate the benchmark's committed inputs and expected outputs.

Usage (from the repository root):
  python3 perfbench/gen.py ops        # data/ops.json       (~15 min)
  python3 perfbench/gen.py requests   # data/requests.json  (~15 min)
  python3 perfbench/gen.py rw         # data/rw.json        (~1 min)

Run it on the commit whose outputs define "correct"; every later commit
is checked against what it wrote.

ops: every operator key, run twice at sf0.1 (graft.perfbench.Gen): module,
row count, order-insensitive checksum (null when the two runs differ),
Derived inputs and cost (see calibrate). Each key with DuckDB oracle SQL is
cross-checked: the oracle's row count over the same fixtures must equal
Spark's, or generation stops.

requests: the request corpora, from committed files only:
  - NL: the passing questions of NLFUZZ.json, less the 12 that read
    reg_nations, a dataset the fuzz harness registers;
  - SQL: their NlToSql.translate output (questions that translate);
  - GraphQL: the passing documents of GQLFUZZ.json, less the `_mut_`
    entries (mutations and the reads that depend on them), the one other
    read of a mutation-registered dataset (fuzz_orders) and the documents
    that declare variables.
Each request's expected answer is its sf0.1 answer, run twice.

rw: the answers of the serve_rw reader templates (the `readers` list in
data/rw.json) and of the writer's checked reads.
"""
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"
sys.path.insert(0, str(HERE))
import build  # noqa: E402

FIXTURES = Path(os.environ.get("PERFBENCH_FIXTURES", Path.home() / "testdata" / "sf0.1"))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def gen(*args):
    work = ROOT / ".bench_work" / "gen"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = build.java_cmd(ROOT, work, "graft.perfbench.Gen", [*args, str(work)], heap="4g")
    subprocess.run(cmd, cwd=work, check=True)
    shutil.rmtree(work, ignore_errors=True)


def corpus():
    nl = json.loads((ROOT / "NLFUZZ.json").read_text())["questions"]
    gql = json.loads((ROOT / "GQLFUZZ.json").read_text())["questions"]
    return {
        "nl": [q["question"] for _, q in sorted(nl.items())
               if q["status"] == "pass" and not harness_state(q["question"])],
        "graphql": [q["gql"] for k, q in sorted(gql.items())
                    if q["status"] == "pass" and "_mut_" not in k
                    and not harness_state(q["gql"])
                    and not q["gql"].lstrip().startswith("query(")],
    }


def harness_state(text):
    """Whether a fuzz case reads a dataset the fuzz harness itself
    registered (NlFuzz registers reg_nations; GqlFuzz's mutations register
    fuzz_regions / fuzz_orders): such a case depends on state a catalog-less
    server never has, like the `_mut_` reads."""
    return "reg_nations" in text or "fuzz_" in text


def calibrate(out, seeds=(1, 2)):
    """Replace each drawable key's cost_s (warm, second of two passes in
    one JVM) by its mean latency in ops_batch-like passes: a fresh JVM,
    the tiny-scale warm-up, then every key once, in two seeded orders.
    Stratifying on what a pass actually sees keeps every seed's pass alike."""
    tiny = FIXTURES.parent / "sf0.001"
    for s in seeds:
        gen("calibrate", str(FIXTURES), str(tiny), str(out), str(s))
    ops = json.loads(out.read_text())
    for v in ops["keys"].values():
        lats = [v.pop(f"lat_s_{s}") for s in seeds if f"lat_s_{s}" in v]
        if lats:
            v["cost_s"] = sum(lats) / len(lats)
    out.write_text(json.dumps(ops, indent=1, sort_keys=True) + "\n")


def oracle_check(ops):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{FIXTURES}/{t}.parquet')")
    bad = []
    for k, v in sorted(ops["keys"].items()):
        if v.get("oracle") and "rows" in v:
            n = con.execute(f"SELECT count(*) FROM ({v['oracle']})").fetchone()[0]
            v["oracle_rows"] = n
            if n != v["rows"]:
                bad.append(f"{k}: spark {v['rows']} rows, duckdb {n}")
        v.pop("oracle", None)
    if bad:
        raise SystemExit("oracle cross-check failed:\n  " + "\n  ".join(bad))


def main():
    what = sys.argv[1] if len(sys.argv) > 1 else ""
    build.build(ROOT)
    if what == "ops":
        out = DATA / "ops.json"
        gen("ops", str(FIXTURES), str(out))
        gen("derived", str(FIXTURES), str(out))
        calibrate(out)
        ops = json.loads(out.read_text())
        oracle_check(ops)
        out.write_text(json.dumps(ops, indent=1, sort_keys=True) + "\n")
    elif what == "requests":
        src = ROOT / ".bench_work" / "corpus.json"
        src.parent.mkdir(parents=True, exist_ok=True)
        src.write_text(json.dumps(corpus()))
        gen("requests", str(FIXTURES), str(src), str(DATA / "requests.json"))
        src.unlink()
    elif what == "rw":
        gen("rw", str(FIXTURES), str(DATA / "rw.json"))
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main()
