"""Seeded input generators for the two workloads.

Each generator writes its inputs under a directory and returns
(manifest, expected): the manifest is all the program side sees (file
paths and the step list), `expected` is what the generator knows the
outputs must be, used only by the checks. The same seed gives the same
inputs; different seeds give inputs of the same size and shape, so the
work per pass does not depend on the seed.

Why these workloads:
- mr_sql is the engine path with no TxLog in it. Its MapReduce half is
  the paper's own pipeline (text scan, map, partition, sort, streaming
  group-by, reduce) through `mr.MapReduce.run`, which nothing else in the
  repository's bench reaches: Zipf-skewed word lines give hot keys and
  long group runs; duplicate-heavy 32-bit unsigned integers uniform over
  the whole key space keep the `SortedPartition32` range buckets
  balanced, as in the reference's `sort` inputs. Its relational half is
  a set of `q<N>_*` rows: Catalyst, AQE and executor work. Both bypass
  the log, so a TxLog change should leave this workload unchanged.
- lake_lifecycle grows one TxLog table from empty across two checkpoints
  and tens of live files with reads beside writes, so a read-path gain
  that costs writes shows, and metadata cost that grows with file count
  (the Impala argument) is visible.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# MapReduce text corpus: stated profile. Each file is one MapReduce job's input.
MR_FILES = 2                  # word files, and as many integer files
WORD_LINES = 60_000           # lines per word file
VOCAB = 6_000                 # distinct words per file, each present at least once
ZIPF_S = 1.1                  # rank-frequency exponent of the word lines
INT_LINES = 60_000            # lines per integer file
INT_DISTINCT = 8_000          # distinct keys per file, each present at least once
MR_PARTITIONS = 4             # reduce partitions for distinctSorted

# Relational tables: the row counts, columns and value distributions of the
# repository's sf0.1 test tables (its bench size), regenerated from the seed
# so a run reads nothing outside its checkout. Like those tables, every
# column is drawn independently: l_orderkey is uniform over the orders (about
# four line items per order, Poisson-like), l_linenumber uniform over 1..7.
SQL_ROWS = dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
                lineitem=600_000, events=100_000, documents=5_000)
EVENT_USERS = 1_500

# The relational rows a pass runs, one per operator family (distinct,
# multi-aggregate, multi-way join, top-k per group, ranking windows, scalar
# subquery). These six take 8-9 s a pass at this size on 4 cores; all 48
# `q<N>_*` rows take over 30 s, more than a run can spend.
SQL_QUERIES = ["q1_distinct", "q4_multi_agg", "q6_multi_join", "q8_topk_per_group",
               "q21_rank_lag_lead", "q40_scalar_subquery"]

# lake_lifecycle: rounds per pass (18 appends and 3 DML commits cross the
# checkpoints at versions 10 and 20) and rows per appended batch; each
# batch is one file and lands as one live data file
LAKE_ROUNDS = 18
LAKE_BATCH = 600
LAKE_GROUPS = 16
MERGE_NEW_ID0 = 10_000_000


def rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def _digest(lines):
    h = hashlib.sha256()
    for line in lines:
        h.update((line + "\n").encode())
    return h.hexdigest()


def _words(r, n):
    """n distinct lowercase words of 3 to 9 letters."""
    out, seen = [], set()
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(out) < n:
        lens = r.integers(3, 10, size=n)
        for ln in lens:
            w = "".join(r.choice(letters, size=ln))
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def word_corpus(r, lines, vocab):
    """Every vocabulary word once, the rest drawn Zipf(ZIPF_S) by rank."""
    words = _words(r, vocab)
    p = 1.0 / np.arange(1, vocab + 1) ** ZIPF_S
    idx = np.concatenate([np.arange(vocab),
                          r.choice(vocab, size=lines - vocab, p=p / p.sum())])
    r.shuffle(idx)
    return [words[i] for i in idx]


def int_corpus(r, lines, distinct):
    """`distinct` unsigned 32-bit keys uniform over [0, 2^32), each once,
    the rest uniform duplicates of them."""
    keys = np.unique(r.integers(0, 2 ** 32, size=distinct * 2, dtype=np.uint64))
    keys = r.permutation(keys)[:distinct]
    idx = np.concatenate([np.arange(distinct), r.integers(0, distinct, size=lines - distinct)])
    r.shuffle(idx)
    return [str(int(keys[i])) for i in idx]


def expected_word_count(lines):
    counts = {}
    for w in lines:
        counts[w] = counts.get(w, 0) + 1
    return [f"{w}\t{counts[w]}" for w in sorted(counts)]


def expected_distinct_sorted(lines, partitions):
    """Bucket = top floor(log2 n) bits of the key (SortedPartition32), then
    lexicographic order inside a bucket."""
    shift = 32 - (partitions.bit_length() - 1) if partitions > 1 else 32
    return sorted(set(lines), key=lambda s: (int(s) >> shift, s))


def mr_text(seed, out):
    """MR_FILES word files and MR_FILES integer files; a pass runs
    `wordCount` on each word file and `distinctSorted` on each integer
    file, alternating."""
    calls, expected = [], []
    r = rng(seed, 1)

    def write(name, lines):
        p = os.path.abspath(os.path.join(out, f"{name}.txt"))
        _write_lines(p, lines)
        return [p]

    for i in range(MR_FILES):
        words = word_corpus(r, WORD_LINES, VOCAB)
        ints = int_corpus(r, INT_LINES, INT_DISTINCT)
        for fn, lines, exp in (
                ("wordCount", words, expected_word_count(words)),
                ("distinctSorted", ints, expected_distinct_sorted(ints, MR_PARTITIONS))):
            calls.append({"fn": fn, "files": write(f"{fn}_{i}", lines),
                          "partitions": MR_PARTITIONS})
            expected.append({"rows": len(exp), "sha256": _digest(exp), "lines": len(lines)})
    wr = rng(seed, 2)
    warmup = [
        {"fn": "wordCount", "files": write("warm_words", word_corpus(wr, 2000, 200)),
         "partitions": MR_PARTITIONS},
        {"fn": "distinctSorted", "files": write("warm_ints", int_corpus(wr, 2000, 500)),
         "partitions": MR_PARTITIONS}]
    return {"calls": calls, "warmup": warmup}, {"calls": expected}


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, size=n), 2)


def _dates(r, start, days, n):
    base = np.datetime64(start, "us")
    return base + r.integers(0, days, size=n).astype("timedelta64[D]").astype("timedelta64[us]")


def sql_tables(r, d, n, users):
    """TPC-H-shaped star schema plus events and documents, with the column
    names and types the relational rows and their oracle SQL expect: `n`
    rows per table, `users` distinct event users, written under `d`."""
    i32, i64 = pa.int32(), pa.int64()
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": r.choice(segs, n["customer"])})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"])})
    adj = ["red", "blue", "small", "large", "hot", "old", "green", "dark"]
    noun = ["widget", "ring", "bolt", "plate", "rod", "gear", "nut", "pipe"]
    np_ = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, np_), r.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, np_)],
        "p_type": r.choice(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                     "STANDARD"]), np_),
        "p_size": pa.array(r.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 1)})
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(r.integers(0, n["customer"], no), i64),
        "o_orderstatus": r.choice(np.array(["F", "O", "P"]), no),
        "o_totalprice": _money(r, 1000, 500000, no),
        "o_orderdate": pa.array(_dates(r, "1995-01-01", 2404, no), pa.timestamp("us")),
        "o_orderpriority": r.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"]), no)})
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), i64),
        "l_partkey": pa.array(r.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(r.integers(1, 8, nl), i32),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105000, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": r.choice(np.array(["A", "N", "R"]), nl),
        "l_linestatus": r.choice(np.array(["F", "O"]), nl),
        "l_shipdate": pa.array(_dates(r, "1995-01-02", 2498, nl), pa.timestamp("us"))})
    ne = n["events"]
    offs = np.sort(r.choice(30 * 86400 * 10 ** 6, size=ne, replace=False))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, ne), i64),
        "event_type": r.choice(np.array(["click", "error", "purchase", "signup", "view"]), ne),
        "value": np.round(r.exponential(50, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})
    vocab = ["the", "a", "row", "scan", "hash", "join", "merge", "sort", "group", "agg",
             "batch", "stream", "table", "column", "value", "key", "part", "line", "window",
             "query", "fast", "slow", "data", "spark", "vector", "customer", "order"]
    nd = n["documents"]
    texts = [" ".join(r.choice(vocab, size=k)) for k in r.integers(10, 100, nd)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": r.choice(np.array(["de", "en", "es", "fr", "zh"]), nd,
                         p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in r.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    d = os.path.abspath(d)
    os.makedirs(d, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))
    return d


def sql_core(seed, out):
    """The tables the relational rows run on, and a hundredth-size copy for
    the session warm-up, which so measures per-session work (planning,
    code generation) rather than scans that contend for the cores."""
    d = sql_tables(rng(seed, 3), os.path.join(out, "tables"), SQL_ROWS, EVENT_USERS)
    warm = sql_tables(rng(seed, 6), os.path.join(out, "warm_tables"),
                      {k: v // 100 for k, v in SQL_ROWS.items()}, EVENT_USERS // 100)
    return ({"tables_dir": d, "queries": SQL_QUERIES, "warmup_tables_dir": warm,
             "warmup_queries": ["q2_group_count"]}, {"tables_dir": d})


def gen_mr_sql(seed, out):
    """The engine path with no TxLog: the MapReduce text jobs, then the
    relational rows, in one pass."""
    manifest, expected = mr_text(seed, out)
    m2, e2 = sql_core(seed, out)
    manifest.update(m2, workload="mr_sql")
    expected.update(e2)
    return manifest, expected


LAKE_SCHEMA = pa.schema([("id", pa.int64()), ("k", pa.string()), ("v", pa.int64())])


class LakeModel:
    """The table's rows as the program should hold them: id -> (k, v)."""

    def __init__(self):
        self.rows = {}

    def aggregates(self):
        ids = list(self.rows)
        return [len(ids), sum(v for _, v in self.rows.values()), sum(ids),
                sum(i * v for i, (_, v) in self.rows.items())]

    def groups(self):
        g = {}
        for k, v in self.rows.values():
            c, t = g.get(k, (0, 0))
            g[k] = (c + 1, t + v)
        return [[k, c, t] for k, (c, t) in sorted(g.items())]


def _lake_steps(r, out, prefix, rounds, batch_rows, schedule):
    """The step list of one pass and the observation each step must make.
    Every round appends a batch, reads the latest version and probes the
    log's metadata accessors; `schedule` maps a round to the extra steps
    that follow it."""
    model, steps, expected, user_bytes = LakeModel(), [], {}, 0
    snapshots, append_steps = {}, []
    next_new = MERGE_NEW_ID0
    mv_mode = "build"  # mode the next view refresh must take

    def write(name, ids, ks, vs):
        nonlocal user_bytes
        p = os.path.abspath(os.path.join(out, f"{prefix}_{name}.parquet"))
        pq.write_table(pa.table({"id": ids, "k": ks, "v": vs}, schema=LAKE_SCHEMA), p)
        user_bytes += os.path.getsize(p)
        return [p]

    def keys(n):
        return [f"g{g:02d}" for g in r.integers(0, LAKE_GROUPS, n)]

    def step(s, exp=None):
        if exp is not None:
            expected[len(steps)] = exp
        steps.append(s)

    def merge(rd):
        nonlocal next_new
        old = [int(i) for i in r.choice(sorted(model.rows), size=batch_rows // 10,
                                         replace=False)]
        new = list(range(next_new, next_new + batch_rows // 20))
        next_new += len(new)
        ids = sorted(old + new)
        ks, vs = keys(len(ids)), [int(v) for v in r.integers(0, 1000, len(ids))]
        files = write(f"merge{rd}", ids, ks, vs)
        model.rows.update(zip(ids, zip(ks, vs)))
        step({"op": "merge_mor", "files": files})

    for rd in range(rounds):
        ids = list(range(rd * batch_rows, (rd + 1) * batch_rows))
        ks, vs = keys(batch_rows), [int(v) for v in r.integers(0, 1000, batch_rows)]
        files = write(f"batch{rd}", ids, ks, vs)
        model.rows.update(zip(ids, zip(ks, vs)))
        snapshots[len(steps)] = model.aggregates()
        append_steps.append(len(steps))
        step({"op": "append", "files": files, "batch": rd}, {"committed": True})
        step({"op": "read"}, {"aggregates": model.aggregates()})
        step({"op": "probe"})
        for extra in schedule.get(rd, ()):
            if extra == "delete_mor":
                lo = int(r.integers(0, rd * batch_rows - batch_rows // 10))
                hi = lo + batch_rows // 10 - 1
                for i in range(lo, hi + 1):
                    model.rows.pop(i, None)
                step({"op": "delete_mor", "lo": lo, "hi": hi})
            elif extra == "merge_mor":
                merge(rd)
            elif extra == "sql_update":
                mod, rem, delta = 7, int(r.integers(0, 7)), int(r.integers(1, 10))
                for i, (k, v) in list(model.rows.items()):
                    if i % mod == rem:
                        model.rows[i] = (k, v + delta)
                step({"op": "sql_update", "mod": mod, "rem": rem, "delta": delta})
            elif extra == "sql_read":
                step({"op": "sql_read"}, {"aggregates": model.aggregates()})
            elif extra == "time_travel":
                at = append_steps[rd // 2]
                step({"op": "time_travel", "at_step": at}, {"aggregates": snapshots[at]})
            elif extra == "mv":
                step({"op": "mv_refresh"}, {"mode": mv_mode})
                mv_mode = "incremental"
                step({"op": "mv_read"}, {"groups": model.groups()})
    return steps, expected, user_bytes


# Extra steps after a round. The view is built early and refreshed once
# by an append-only incremental fold; the MOR merge, the SQL UPDATE and
# the MOR delete come late, with SQL reads and time travel between them.
LAKE_SCHEDULE = {2: ("mv",), 5: ("sql_read", "mv"), 11: ("merge_mor", "time_travel"),
                 13: ("sql_update",), 15: ("delete_mor",),
                 17: ("sql_read", "time_travel")}
WARMUP_SCHEDULE = {1: ("sql_read", "time_travel")}


def gen_lake_lifecycle(seed, out):
    steps, expected, user_bytes = _lake_steps(rng(seed, 4), out, "pass", LAKE_ROUNDS,
                                              LAKE_BATCH, LAKE_SCHEDULE)
    warm, _, _ = _lake_steps(rng(seed, 5), out, "warm", 2, 60, WARMUP_SCHEDULE)
    manifest = {"workload": "lake_lifecycle", "schema": "id long, k string, v long",
                "steps": steps, "warmup_steps": warm}
    return manifest, {"steps": {str(k): v for k, v in expected.items()},
                      "user_bytes": user_bytes}


GENERATORS = {"mr_sql": gen_mr_sql, "lake_lifecycle": gen_lake_lifecycle}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` under `out`; returns
    (manifest, expected). The manifest is also written to manifest.json."""
    os.makedirs(out, exist_ok=True)
    manifest, expected = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest, expected
