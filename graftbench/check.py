"""Correctness checks for one benchmark run, outside the timed section.

Every output is compared by the repository's own oracle check,
`tools/check.py <data_dir> <out_dir>`, which reads `oracle_sql.json` in
`out_dir` and compares each `out_dir/<name>` value-exactly with the
DuckDB result of its SQL:

- `p<N>.<query>`: pass N's output of a `SparkEntry` query, against
  `SparkEntry.oracleSql`; a SQL statement's oracle is its own text.
- `lake_head`: the snapshot table's final head. The lake operations that
  ran are replayed on an independent pandas model of the table built
  from the seed's batches; every head and time-travel read must match
  the model here, and the model's final head is the oracle's table.
"""
import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def check_outputs(tool, data_dir, work, plan_ops, records):
    """The number of wrong outputs of a run whose outputs are under
    `work/out`; `records` are the run's operation records."""
    out = os.path.join(work, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle_sql = json.load(fh)
    oracle = {}
    for r in records:
        if r["kind"] not in ("q", "sql"):
            continue
        name = f"p{r['pass']}.{r['name']}"
        if not r["ok"]:  # counted as failed already; drop a partial output
            shutil.rmtree(os.path.join(out, name), ignore_errors=True)
            continue
        oracle[name] = r["arg"] if r["kind"] == "sql" else oracle_sql[r["name"]]
    wrong, head = 0, None
    if any(o[1] == "create" for o in plan_ops):
        wrong, head = replay_lake(plan_ops, records)
    if head is not None:
        expected = os.path.join(work, "lake_expected.parquet")
        pq.write_table(pa.Table.from_pandas(head.reset_index(drop=True), preserve_index=False),
                       expected)
        oracle["lake_head"] = f"SELECT * FROM '{expected}'"
    with open(os.path.join(out, "oracle_sql.json"), "w") as fh:
        json.dump(oracle, fh)
    p = subprocess.run([sys.executable, tool, data_dir, out],
                       capture_output=True, text=True, timeout=120)
    if p.returncode == 0:
        return wrong
    sys.stderr.write(f"[check] {p.stdout}{p.stderr[-2000:]}")
    m = re.search(r"^FAIL (\d+):", p.stdout, re.M)
    return wrong + (int(m.group(1)) if m else len(oracle))


def _agg(df, since):
    """The harness's read aggregate, per status: rows, key sum, cents."""
    d = df[df["o_orderdate"] >= pd.Timestamp(since)]
    cents = np.round(d["o_totalprice"].to_numpy() * 100).astype(np.int64)
    g = d.assign(cents=cents).groupby("o_orderstatus")
    out = pd.DataFrame({"n": g.size(), "keys": g["o_orderkey"].sum(),
                        "cents": g["cents"].sum()}).sort_index()
    return [[s, int(r["n"]), int(r["keys"]), int(r["cents"])] for s, r in out.iterrows()]


def replay_lake(plan_ops, records):
    """Replay the executed lake operations on a pandas model: the number
    of reads that disagree with it, and the model's head (None once an
    operation failed)."""
    create = next(o for o in plan_ops if o[1] == "create")
    versions = [pq.read_table(create[3]).to_pandas().set_index("o_orderkey", drop=False)]
    head, wrong = versions[0], 0
    for r in records:
        if r["kind"] not in ("append", "merge", "delete", "compact", "scan"):
            continue
        if not r["ok"]:
            return wrong, None  # the model cannot follow an unknown commit state
        kind, arg = r["kind"], r["arg"]
        if kind == "append":
            head = pd.concat([head, pq.read_table(arg).to_pandas().set_index("o_orderkey", drop=False)])
        elif kind == "merge":
            upd = pq.read_table(arg).to_pandas().set_index("o_orderkey", drop=False)
            head = pd.concat([head[~head.index.isin(upd.index)], upd])
        elif kind == "delete":
            lo, hi = int(arg.split()[2]), int(arg.split()[6])
            head = head[(head.index < lo) | (head.index >= hi)]
        elif kind == "scan":
            v, since = arg.split(",")
            tab = head if v == "head" else versions[int(v) - 1]
            if _agg(tab, since) != r["result"]:
                wrong += 1
                print(f"[check] lake {r['name']}: {r['result']} != {_agg(tab, since)}", file=sys.stderr)
            continue
        versions.append(head)  # every write, compact included, is one version
    return wrong, head
