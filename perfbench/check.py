"""Correctness checks, run after the timed phase. Each compares graft's
answers with an independent model: DuckDB over the generated inputs, or
a plain-Python replay of the op sequence. They return the set of op
indices whose answer is wrong, with a reason per op.
"""
import glob
import json
import math
import os

import duckdb

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """Value canonicalisation of scripts/check_parity.py."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def canon_rows(cur):
    cols = [c[0] for c in cur.description]
    perm = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), [tuple(canon(r[i]) for i in perm) for r in cur.fetchall()]


def check_queries(plan, out):
    """Each distinct result of a query against its oracle SQL in DuckDB,
    with the canonicalisation of scripts/check_parity.py: columns sorted
    by name, rows in order (or equal after sorting)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{plan['tables']}/{t}.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}  # (query, result index) -> reason
    for name, sql in oracle.items():
        if sql is None:
            continue
        dcols, drows = canon_rows(con.execute(sql))
        for d in sorted(glob.glob(os.path.join(out, "results", name, "*"))):
            scols, srows = canon_rows(con.execute(f"SELECT * FROM '{d}/*.parquet'"))
            if scols != dcols:
                bad[(name, int(os.path.basename(d)))] = f"columns {scols} != oracle {dcols}"
            elif srows != drows and sorted(srows) != sorted(drows):
                bad[(name, int(os.path.basename(d)))] = (
                    f"{len(srows)} rows differ from the oracle's {len(drows)}")
    return bad


def executed(plan, run):
    """(record, plan op) for every op the run executed, in order: the
    warm-up ops, then the decks."""
    planned = plan["warm"] + [op for deck in plan["decks"] for op in deck]
    return [(o, planned[o["i"]]) for o in run["ops"]]


# ------------------------------------------------------- read: lake ops

def check_lake_read(plan, run):
    """Replays the table's history in DuckDB, one table per step, and
    answers every read op there."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE v0 AS SELECT * FROM '{plan['base']}'")
    con.execute("CREATE TABLE cdc AS SELECT 0 AS step, 'insert' AS change_type, l_quantity FROM v0")
    for k, h in enumerate(plan["history"]):
        prev, cur, step = f"v{k}", f"v{k + 1}", k + 1
        if h["kind"] == "append":
            con.execute(f"CREATE TABLE {cur} AS SELECT * FROM {prev} UNION ALL SELECT * FROM '{h['src']}'")
            con.execute(f"INSERT INTO cdc SELECT {step}, 'insert', l_quantity FROM '{h['src']}'")
        elif h["kind"] == "delete":
            cond = f"l_orderkey BETWEEN {h['lo']} AND {h['hi']}"
            con.execute(f"CREATE TABLE {cur} AS SELECT * FROM {prev} WHERE NOT ({cond})")
            con.execute(f"INSERT INTO cdc SELECT {step}, 'delete', l_quantity FROM {prev} WHERE {cond}")
        else:
            src = f"'{h['src']}'"
            con.execute(f"CREATE TABLE {cur} AS SELECT * FROM {prev} WHERE l_id NOT IN "
                        f"(SELECT l_id FROM {src}) UNION ALL SELECT * FROM {src}")
            con.execute(f"INSERT INTO cdc SELECT {step}, CASE WHEN l_id IN (SELECT l_id FROM {prev}) "
                        f"THEN 'update_postimage' ELSE 'insert' END, l_quantity FROM {src}")
            con.execute(f"INSERT INTO cdc SELECT {step}, 'update_preimage', l_quantity FROM {prev} "
                        f"WHERE l_id IN (SELECT l_id FROM {src})")
    head = f"v{len(plan['history'])}"
    versions = run["versions"]
    answers = {}
    with open(os.path.join(run["out"], "answers.jsonl")) as f:
        for line in f:
            a = json.loads(line)
            answers[a["i"]] = [tuple(r) for r in a["rows"]]
    totals = "SELECT count(*), sum(l_quantity), sum(l_orderkey) FROM"
    wrong = {}
    for o, op in executed(plan, run):
        k = op["kind"]
        if o["error"] or k == "query":
            continue
        if k == "lookup":
            sql = (f"SELECT l_id, l_linenumber, l_quantity FROM {head} "
                   f"WHERE l_orderkey = {op['key']} ORDER BY l_id")
        elif k == "prune":
            sql = (f"{totals} {head} WHERE l_linenumber = {op['part']} "
                   f"AND l_orderkey BETWEEN {op['lo']} AND {op['hi']}")
        elif k == "scan":
            sql = (f"SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity) FROM {head} "
                   "GROUP BY ALL ORDER BY ALL")
        elif k == "timetravel":
            sql = f"{totals} v{op['step']}"
        else:
            steps = [s for s, v in enumerate(versions)
                     if versions[op["from_step"]] <= v <= versions[op["to_step"]]]
            con.execute("CREATE OR REPLACE TEMP TABLE vmap (step INT, version BIGINT)")
            con.executemany("INSERT INTO vmap VALUES (?, ?)", [(s, versions[s]) for s in steps])
            sql = ("SELECT version, change_type, count(*), sum(l_quantity) FROM cdc "
                   "JOIN vmap USING (step) GROUP BY ALL ORDER BY ALL")
        want = [tuple(r) for r in con.execute(sql).fetchall()]
        got = answers.get(o["i"])
        if got != want:
            wrong[o["i"]] = f"{k}: got {str(got)[:200]} want {str(want)[:200]}"
    return wrong


# ----------------------------------------------------------- lake_write

def landmark_rows(csv_path):
    """The typed rows an ingest of this CSV must land, derived from the
    ingest spec (quotes stripped, WKT rewritten to x:y::x:y, empty cells
    null, types from the manifest) rather than from graft's code."""
    import csv
    csv.field_size_limit(1 << 30)  # heavy-tailed rings make cells of megabytes
    ints = {gen.LANDMARK_COLUMNS.index(c) for c, t in gen.LANDMARK_TYPES.items() if t == "int"}
    floats = {gen.LANDMARK_COLUMNS.index(c) for c, t in gen.LANDMARK_TYPES.items() if t == "double"}
    rows = []
    with open(csv_path, newline="") as f:
        r = csv.reader(f)
        next(r)
        for cells in r:
            wkt = cells[1]
            assert wkt.startswith("MULTIPOLYGON (((") and wkt.endswith(")))")
            cells[1] = "::".join(p.replace(" ", ":") for p in wkt[16:-3].split(", "))
            rows.append([None if v == "" else int(v) if i in ints else float(v) if i in floats else v
                         for i, v in enumerate(cells)])
    return rows


def parquet_rows(path, key):
    """(key -> row with columns sorted by name, the column names, the
    number of rows, which exceeds the keys when a key repeats)."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cols = sorted(t.column_names)
    data = t.select(cols).to_pylist()
    return {r[key]: tuple(r[c] for c in cols) for r in data}, cols, len(data)


def check_lake_write(plan, run):
    """Replays the executed ops on a plain-Python model of both tables,
    then compares each op's own answer and the final snapshots with it.
    A row that differs at the end is charged to the op that last wrote
    it in the model. Returns (wrong, changed rows per op)."""
    import pyarrow.parquet as pq
    cols = gen.LANDMARK_COLUMNS
    B, S, OID = cols.index("BOROUGH"), cols.index("STATUS_OF_"), cols.index("OBJECTID")
    land, writer = {}, {}  # OBJECTID -> row, OBJECTID -> op index
    events = {}
    wrong, changed = {}, {}
    for o, op in executed(plan, run):
        i, k = o["i"], op["kind"]
        if o["error"]:
            continue
        if k == "ingest":
            rows = landmark_rows(op["csv"])
            changed[i] = len(rows)
            if o.get("landed_rows") != len(rows):
                wrong[i] = f"ingest landed {o.get('landed_rows')} of {len(rows)} rows ({op['bytes']} bytes)"
            for r in rows:
                land[r[OID]], writer[r[OID]] = r, i
        elif k == "append":
            rows = pq.read_table(op["batch"]).to_pylist()
            changed[i] = len(rows)
            if not o.get("committed"):
                wrong[i] = "appendOnce did not commit"
            for r in rows:
                events[r["event_id"]] = (r, i)
        elif k == "merge":
            rows = pq.read_table(op["src"]).to_pylist()
            changed[i] = len(rows)
            for r in rows:
                land[r["OBJECTID"]], writer[r["OBJECTID"]] = [r[c] for c in cols], i
        elif k in ("update", "delete"):
            hit = [oid for oid, r in land.items()
                   if r[B] == op["borough"] and op["lo"] <= oid <= op["hi"]]
            changed[i] = len(hit)
            if o.get("rows") != len(hit):
                wrong[i] = f"{k} touched {o.get('rows')} rows, the model {len(hit)}"
            for oid in hit:
                if k == "update":
                    land[oid] = land[oid][:S] + [op["status"]] + land[oid][S + 1:]
                    writer[oid] = i
                else:
                    del land[oid]
                    writer[oid] = i
    final = os.path.join(run["out"], "final")
    got, gcols, n_land = parquet_rows(os.path.join(final, "landmarks"), "OBJECTID")
    perm = [cols.index(c) for c in gcols]
    want = {oid: tuple(r[j] for j in perm) for oid, r in land.items()}
    for oid in set(got) | set(want):
        if got.get(oid) != want.get(oid):
            at = writer.get(oid, -1)
            wrong.setdefault(at, f"landmarks row {oid}: got {str(got.get(oid))[:120]} "
                                 f"want {str(want.get(oid))[:120]}")
    egot, ecols, n_events = parquet_rows(os.path.join(final, "events"), "event_id")
    for eid in set(egot) | set(events):
        r, at = events.get(eid, (None, -1))
        if egot.get(eid) != (tuple(r[c] for c in ecols) if r else None):
            wrong.setdefault(at, f"events row {eid} differs from the model")
    # keys are unique in the model, so a repeated key is a wrong snapshot;
    # rowCount must match the snapshot it describes (where the snapshot
    # differs from the model, the rows above already carry the blame)
    for t, keys, n in [("landmarks", got, n_land), ("events", egot, n_events)]:
        if n != len(keys):
            wrong.setdefault(-1, f"{t} snapshot repeats {n - len(keys)} keys")
        if run["row_count"][t] != n:
            wrong.setdefault(-1, f"{t} rowCount {run['row_count'][t]}, its snapshot {n} rows")
    return wrong, changed


def check(workload, plan, run):
    """Returns ({op index: reason} for every wrong or failed op, {op index:
    rows it changed}). Index -1 stands for the set-up and the final
    snapshot when no op can be charged."""
    wrong = {o["i"]: f"error: {o['error']}" for o in run["ops"] if o["error"]}
    changed = {}
    if workload == "read":
        bad = check_queries(plan, run["out"])
        for o in run["ops"]:
            why = bad.get((o.get("query"), o.get("result")))
            if why:
                wrong.setdefault(o["i"], f"{o['query']}: {why}")
        for i, why in check_lake_read(plan, run).items():
            wrong.setdefault(i, why)
    else:
        bad, changed = check_lake_write(plan, run)
        for i, why in bad.items():
            wrong.setdefault(i, why)
    return wrong, changed
