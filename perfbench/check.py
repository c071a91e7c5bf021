"""Output checks, run after the timed window; neither reads graft's code.

- `oracle_failures`: each query result graft wrote (parquet) against DuckDB
  running the query's `SparkEntry.oracleSql` on the same parquet tables,
  with the canonical compare of `tools/diff.py` (columns sorted by name,
  rows sorted by all columns, integer-vs-float dtype kinds refused, values
  compared exactly).
- `syllabus_failures`: the syllabus sinks and reports against the ground
  truth `gen_syllabus.py` wrote from its own inputs.
"""
import glob
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df


def values_equal(a, b) -> bool:
    import pandas as pd
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        a, b = list(a), list(b)
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if bool(pd.isna(a)) != bool(pd.isna(b)):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def compare_frames(mine, oracle):
    """None when equal, else the first difference."""
    mine, oracle = canon(mine), canon(oracle)
    if list(mine.columns) != list(oracle.columns):
        return f"columns {list(mine.columns)} != {list(oracle.columns)}"
    for c in mine.columns:
        km, ko = mine[c].dtype.kind, oracle[c].dtype.kind
        if km != ko and {km, ko} <= {"i", "u", "f"} and "f" in {km, ko}:
            return f"col {c} dtype kind {mine[c].dtype} != {oracle[c].dtype}"
    if len(mine) != len(oracle):
        return f"rows {len(mine)} != {len(oracle)}"
    for i in range(len(mine)):
        for c in mine.columns:
            if not values_equal(mine[c].iloc[i], oracle[c].iloc[i]):
                return f"row {i} col {c}: mine={mine[c].iloc[i]!r} oracle={oracle[c].iloc[i]!r}"
    return None


def oracle_failures(results_dir: str, tables_dir: str, names: list) -> dict:
    """Query name -> reason, for every query whose result differs."""
    import duckdb
    import pandas as pd
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    bad = {}
    for name in names:
        try:
            mine = pd.read_parquet(os.path.join(results_dir, name))
            oracle = con.sql(oracles[name]).df()
            why = compare_frames(mine, oracle)
        except Exception as e:  # noqa: BLE001 - any failure is a failed op
            why = f"{type(e).__name__}: {str(e)[:300]}"
        if why:
            bad[name] = why
    con.close()
    return bad


def _jsonl(dir_path: str) -> list:
    rows = []
    for p in sorted(glob.glob(os.path.join(dir_path, "part-*"))):
        with open(p, encoding="utf-8") as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def syllabus_failures(out_dir: str, check_file: str, truth: dict) -> tuple:
    """(ids of documents whose outputs are wrong, reasons for whole-run
    faults). A whole-run fault fails every document."""
    expected = {r["id"]: r for r in truth["records"]}
    bad_docs, faults = set(), []

    got = {}
    for r in _jsonl(os.path.join(out_dir, "jsonl")):
        got.setdefault(r.get("id"), []).append(r)
    for cid, rec in expected.items():
        if got.get(cid) != [rec]:
            bad_docs.add(cid)
    bad_docs |= set(got) - set(expected)

    try:
        with open(os.path.join(out_dir, "courses.json"), encoding="utf-8") as f:
            arr = json.load(f)
    except (OSError, ValueError) as e:
        arr = []
        faults.append(f"courses.json unreadable: {e}")
    if sorted(arr, key=lambda r: r.get("id", "")) != sorted(expected.values(), key=lambda r: r["id"]):
        faults.append("courses.json differs from the expected records")

    per_course = {}
    for p in glob.glob(os.path.join(out_dir, "per_course", "*.json")):
        with open(p, encoding="utf-8") as f:
            per_course[os.path.basename(p)] = json.load(f)
    for cid, rec in expected.items():
        fname = f"{rec['name'] or 'unknown'}-{rec['nrc'] or 'no-nrc'}.json"
        if per_course.get(fname) != rec:
            bad_docs.add(cid)
    if len(per_course) != len(expected):
        faults.append(f"per_course has {len(per_course)} files, expected {len(expected)}")

    rejects = {r.get("doc_id"): r.get("error", "") for r in _jsonl(os.path.join(out_dir, "rejects"))}
    for doc, prefix in truth["rejects"].items():
        if not rejects.get(doc, "").startswith(prefix):
            bad_docs.add(doc)
    bad_docs |= set(rejects) - set(truth["rejects"])

    with open(check_file, encoding="utf-8") as f:
        chk = json.load(f)
    if chk["calendar"] != truth["calendar"]:
        faults.append("weekly calendar differs")
    if chk["legend"] != truth["legend"]:
        faults.append("course legend differs")
    if chk["find_by_id"] != [expected[truth["find_id"]]]:
        faults.append("find_by_id differs")
    want = sorted((r for r in expected.values() if r["period"] == truth["find_period"]),
                  key=lambda r: r["id"])
    if sorted(chk["find_by_period"], key=lambda r: r.get("id", "")) != want:
        faults.append("find_by_period differs")
    return bad_docs, faults
