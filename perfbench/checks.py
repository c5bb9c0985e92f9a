"""Output checks. Each returns (failed, notes): the number of operations
whose output was wrong or that did not complete, and why."""
import glob
import json


def _ops_not_ok(raw):
    return sum(1 for o in raw["ops"] if not o["ok"])


def check_mr_text(raw, expected):
    """Word counts and the distinct set and its order, by digest, against
    what the generator computed from the corpus it wrote."""
    notes, failed = [], 0
    for ob in (o for o in raw["observations"] if "call" in o):
        exp = expected["calls"][ob["call"]]
        if ob["rows"] != exp["rows"] or ob["sha256"] != exp["sha256"]:
            failed += 1
            digest = "same" if ob["sha256"] == exp["sha256"] else "different"
            notes.append(f"pass {ob['pass']} call {ob['call']}: {ob['rows']} rows, "
                         f"expected {exp['rows']}; {digest} digest")
    return failed, notes


def _frames_equal(exp, got):
    """The repository's DuckDB-oracle comparison: same columns (by name),
    same row count, equal values row by row in order."""
    import pandas as pd
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(exp) != len(got):
        return f"rows {len(got)} vs oracle {len(exp)}"
    for c in exp.columns:
        e, g = exp[c].reset_index(drop=True), got[c].reset_index(drop=True)
        if str(e.dtype).startswith("datetime") or str(g.dtype).startswith("datetime"):
            e = pd.to_datetime(e).astype("datetime64[us]")
            g = pd.to_datetime(g).astype("datetime64[us]")
        if not e.equals(g):
            neq = ~((e == g) | (e.isna() & g.isna()))
            if neq.any():
                i = int(neq.idxmax())
                return f"col {c} row {i}: oracle={e[i]!r} spark={g[i]!r}"
    return None


def check_sql_core(raw, expected):
    """Each row's result (dumped outside the timed window) against DuckDB
    running the row's oracle SQL over the same generated tables; rows
    without an oracle must at least have produced a result."""
    import duckdb
    import pandas as pd
    notes, failed = [], 0
    con = duckdb.connect()
    for t in glob.glob(f"{expected['tables_dir']}/*.parquet"):
        name = t.rsplit("/", 1)[1][:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    for ob in (o for o in raw["observations"] if "query" in o):
        files = sorted(glob.glob(f"{ob['dump']}/*.parquet"))
        if not files:
            failed += 1
            notes.append(f"{ob['query']}: no result")
            continue
        if ob["oracle"] is None:
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            why = _frames_equal(con.execute(ob["oracle"]).fetchdf(), got)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {e}"
        if why:
            failed += 1
            notes.append(f"{ob['query']}: {why}")
    return failed, notes


def check_lake_lifecycle(raw, expected):
    """After every read, the row count and sums equal the generator's
    in-memory model of the table; every view read equals the model's
    per-group recompute; every append commits; a view refresh takes the
    mode the schedule implies (build first, then an append-only fold)."""
    notes, failed = [], 0
    steps = expected["steps"]
    for ob in raw["observations"]:
        exp = steps.get(str(ob["step"]), {}).get(ob["what"])
        if json.dumps(exp) != json.dumps(ob["value"]):
            failed += 1
            notes.append(f"pass {ob['pass']} step {ob['step']} {ob['what']}: "
                         f"{str(ob['value'])[:200]} expected {str(exp)[:200]}")
    return failed, notes


def check_mr_sql(raw, expected):
    f1, n1 = check_mr_text(raw, expected)
    f2, n2 = check_sql_core(raw, expected)
    return f1 + f2, n1 + n2


CHECKS = {"mr_sql": check_mr_sql, "lake_lifecycle": check_lake_lifecycle}


def check(workload, raw, expected):
    failed, notes = CHECKS[workload](raw, expected)
    not_ok = _ops_not_ok(raw)
    if not_ok:
        notes.append(f"{not_ok} operations threw: " + "; ".join(raw["failures"][:5]))
    return failed + not_ok, notes
