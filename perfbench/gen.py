"""Seeded input generators for the benchmark.

Every input a run uses comes from here and depends only on the seed: the
TPC-H-shaped parquet tables, the landmark CSV files, the DML keys and
predicates, the events micro-batches, the read table's history and the
op orders. The same seed writes the same bytes (tests/test_gen.py).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000   # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def rng_for(seed, stream):
    """Independent generator per named stream, so adding a stream never
    shifts the values another stream draws."""
    return np.random.default_rng([seed, sum(ord(c) << (i % 24) for i, c in enumerate(stream))])


def write_table(path, columns):
    pq.write_table(pa.table(columns), path, compression="snappy")


def pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def ts_us(values):
    return pa.array(values.astype(np.int64), pa.timestamp("us"))


def lineitem_columns(rng, orderkeys, orderdates_us, n_part, n_supp):
    """Lineitem rows for the given orders: 1-7 lines each."""
    lines = rng.integers(1, 8, len(orderkeys))
    okey = np.repeat(orderkeys, lines)
    odate = np.repeat(orderdates_us, lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    return {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": ts_us(odate + rng.integers(1, 122, n) * DAY_US),
    }


def gen_tables(out_dir, seed):
    """The ten analytics tables, shaped like the repo's sf0.01 test data
    (lineitem ~60k rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "tables")
    n_cust, n_supp, n_part, n_ord, n_ev = 1500, 100, 2000, 15000, 10000
    write_table(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    write_table(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write_table(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    write_table(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    write_table(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1))})
    odate = EPOCH_1995_US + rng.integers(0, 2405, n_ord) * DAY_US
    write_table(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": ts_us(odate),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    write_table(f"{out_dir}/lineitem.parquet",
                lineitem_columns(rng, np.arange(n_ord), odate, n_part, n_supp))
    write_table(f"{out_dir}/events.parquet", events_columns(rng, 0, n_ev))
    docs = []
    for i in range(500):
        if i > 20 and rng.random() < 0.05:
            toks = docs[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = list(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))])
        docs.append(" ".join(toks))
    write_table(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(range(500), pa.int64()),
        "text": pa.array(docs, pa.string()),
        "lang": pick(rng, LANGS, 500),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, 500)], pa.string()),
        "n_chars": pa.array([len(d) for d in docs], pa.int64())})
    emb = (rng.standard_normal((500, 64)) * 0.12).astype(np.float32)
    write_table(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, 500), pa.int32())})


def events_columns(rng, first_id, n, t0_us=EPOCH_2024_US):
    ts = t0_us + np.cumsum(rng.exponential(260e6, n)).astype(np.int64)
    return {
        "event_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "ts": ts_us(ts),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }


# ------------------------------------------------------------- landmarks

LANDMARK_COLUMNS = [
    "OBJECTID", "the_geom", "LP_NUMBER", "BOROUGH", "CHANGED_LP", "RELATED_LP",
    "CURRENT_", "AREA_NAME", "OTHER_NAME", "EXTENSION", "STATUS_OF_", "LAST_ACTIO",
    "BOUNDARY_N", "DESIG_DATE", "PUBLIC_HEA", "CALEN_DATE", "OTHER_HEAR",
    "OTHER_NOTE", "SURVEY_NAM", "SURVEY_DAT", "Shape_area", "Shape_len",
    "Borough1", "LPNUM_TRIM", "Report_URL", "Image_URL", "LM_Type", "WebDes_Dte"]
LANDMARK_TYPES = {"OBJECTID": "int", "Shape_area": "double", "Shape_len": "double"}
BOROUGHS = {"MN": "Manhattan", "BX": "Bronx", "BK": "Brooklyn", "QN": "Queens",
            "SI": "Staten Island"}
AREA_WORDS = ["Fort", "Totten", "Park", "Slope", "Greenwich", "Village", "Tribeca",
              "Jamaica", "Estates", "Riverside", "Hamilton", "Heights", "Bay"]
LM_TYPES = ["Historic District", "Individual Landmark", "Interior Landmark",
            "Scenic Landmark"]


def manifest_json():
    """The schema manifest the ingest ops promote with (no partition key:
    the lake table partitions by BOROUGH itself)."""
    return json.dumps({"schema": [
        {"key": c, "type": LANDMARK_TYPES.get(c, "string"),
         "partition_key": "false", "comment": ""} for c in LANDMARK_COLUMNS]})


def landmark_schema():
    types = {"int": pa.int32(), "double": pa.float64(), "string": pa.string()}
    return pa.schema([(c, types[LANDMARK_TYPES.get(c, "string")]) for c in LANDMARK_COLUMNS])


def _date(rng):
    m, d, y = int(rng.integers(1, 13)), int(rng.integers(1, 29)), int(rng.integers(1965, 2020))
    return f"{m:02d}/{d:02d}/{y} 12:00:00 AM +0000"


def landmark_row(rng, oid):
    """One row as (csv cells, typed values after NormalizeWkt ingest).
    Vertex counts follow a Pareto tail (most rings are small, a few carry
    thousands of vertices), like real district outlines."""
    nv = int(min(20000, 8 + rng.pareto(1.3) * 20))
    x0, y0 = -74.2 + rng.random() * 0.5, 40.5 + rng.random() * 0.4
    xs = np.round(x0 + np.cumsum(rng.normal(0, 1e-4, nv)), 8)
    ys = np.round(y0 + np.cumsum(rng.normal(0, 1e-4, nv)), 8)
    pts = [(repr(float(x)), repr(float(y))) for x, y in zip(xs, ys)]
    wkt = "MULTIPOLYGON (((" + ", ".join(f"{x} {y}" for x, y in pts) + ")))"
    geom = "::".join(f"{x}:{y}" for x, y in pts)
    boro = list(BOROUGHS)[int(rng.integers(0, 5))]
    lp = int(rng.integers(1, 2700))
    area = " ".join(AREA_WORDS[i] for i in rng.integers(0, len(AREA_WORDS), 2)) + " District"
    shape_area, shape_len = float(np.round(rng.uniform(1e3, 5e7), 5)), float(np.round(rng.uniform(1e2, 5e4), 7))
    d1, d2, d3 = _date(rng), _date(rng), _date(rng)
    cells = [str(oid), wkt, f"LP-{lp:05d}", boro, "", "", "Yes" if rng.random() < 0.9 else "No",
             area, "", "No", "DESIGNATED", "DESIGNATED", "", d1,
             f"{int(rng.integers(1, 13))}/{int(rng.integers(1, 29))}/{int(rng.integers(1965, 2020))}",
             d2, "", "", "", "", repr(shape_area), repr(shape_len), BOROUGHS[boro], f"LP-{lp}",
             f"http://s-media.nyc.gov/agencies/lpc/lp/{lp:04d}.pdf",
             f"http://www1.nyc.gov/assets/lpc/images/content/designations/{lp:04d}.jpg",
             LM_TYPES[int(rng.integers(0, 4))], d3]
    typed = list(cells)
    typed[1] = geom
    typed = [None if v == "" else v for v in typed]
    typed[0], typed[20], typed[21] = oid, shape_area, shape_len
    return cells, typed


def write_landmark_csv(path, rng, first_oid, target_bytes):
    """A landmark CSV of about target_bytes; returns the typed rows the
    ingest should land."""
    rows, size = [], 0
    with open(path, "w", newline="") as f:
        header = ",".join(LANDMARK_COLUMNS) + "\n"
        f.write(header)
        size += len(header)
        oid = first_oid
        while size < target_bytes:
            cells, typed = landmark_row(rng, oid)
            cells[1] = '"' + cells[1] + '"'
            line = ",".join(cells) + "\n"
            f.write(line)
            size += len(line)
            rows.append(typed)
            oid += 1
    return rows


def write_landmark_parquet(path, rows):
    cols = list(zip(*rows))
    schema = landmark_schema()
    write_table(path, {f.name: pa.array(cols[i], f.type) for i, f in enumerate(schema)})


# ------------------------------------------------------------ workloads

# Ingest file sizes per lake_write deck, in deck order. The 4.6 MB file
# is larger than the split size Spark uses for one small text file (its
# 4 MB open cost, on up to 8 cores), as a real landmarks export would be.
INGEST_BYTES = [150_000, 4_600_000]
# One lake_write deck. The commit kinds follow graft's own lake workload:
# the call sites in the builders of the registered queries
# (src/main/scala/graft/analytics) are 39 TxnLake.append, 18
# upsert/merge, 20 deleteWhere/delete, 2 updateWhere and 5
# optimize/optimizeZOrder. A deck of 21 with every kind at least once:
# 10 appends (2 of them ingests, the rest micro-batch appendOnce), 6
# deletes, 1 update, 1 optimize, and 3 merges where the counts give 4.5,
# which keeps a deck near 20 s. Merges then take about a third of a
# deck's time, and the median op is a delete.
# The order is fixed, kinds spread evenly, so that every seed's deck
# meets the same table sizes and checkpoint positions; only the inputs
# depend on the seed.
WRITE_DECK = ["ingest", "append", "delete", "merge", "append", "delete", "append",
              "update", "delete", "append", "merge", "append", "delete", "ingest",
              "append", "delete", "merge", "append", "delete", "optimize", "append"]
# The lake ops of one read deck; each deck also runs every analytics
# query. The mix is assumed, not measured: no read trace exists in the
# repo. Point lookups come most often, so the median op of a deck is a
# lookup, the read that commit statistics (through pruning) affect most;
# then pruned aggregates and time travel; one full scan and one CDC read.
# Time travel reads each older version once per deck and the CDC read
# covers the whole history after the create, so that every seed's deck
# reads the same versions (one version's read took 0.08-0.58 s, and a
# feed range 0.4-1.0 s, depending on which); the seed orders the deck and
# picks keys and ranges.
READ_DECK = ["lookup"] * 7 + ["prune"] * 2 + ["scan"] + ["timetravel"] * 3 + ["cdc"]
# graft's registered queries the read workload runs: one per operator
# family (dedup, similarity, text, geo, graph, and relational SQL). The
# pick within a family is assumed: the fastest query of the family on
# these tables, so that a deck of 20 ops stays about ten seconds long.
# None builds a lake table or drains a stream (graft.Bench lists those
# separately).
QUERIES = ["dd05_embedding_exact_dedup", "ss01_cosine_topk", "tx06_bpe_tokens",
           "gq02_polygon_area", "pr02_triangles", "q12_conditional_agg"]
# Orders of the read table (about 30k lineitem rows)
READ_ORDERS = 7500
# The read table checkpoints every 2 commits, so its short history still
# has a checkpoint followed by a log tail
READ_CHECKPOINT_INTERVAL = 2
EVENTS_PER_BATCH = 1000
# Width of the OBJECTID range an update or delete covers in one borough
# (up to about 200 rows); one width, so every seed's DML does the same work
DML_KEYS = 1000


def plan_lake_write(in_dir, seed, decks, single_file=True):
    """One warm-up op of each kind and `decks` decks. The tables start
    empty; the warm-up ingest lands their first rows. `single_file` is
    the ingest's massageFile flag: True writes one massaged part per
    file; False (massageFile's default) writes a part per split, which
    promote reads with a row lost per extra part (README, known defect)."""
    rng = rng_for(seed, "lake_write")
    os.makedirs(f"{in_dir}/csv", exist_ok=True)
    os.makedirs(f"{in_dir}/batches", exist_ok=True)
    os.makedirs(f"{in_dir}/merge", exist_ok=True)
    with open(f"{in_dir}/manifest.json", "w") as f:
        f.write(manifest_json())
    next_oid = [1]
    next_event = [0]
    known = []  # (oid, borough) of rows generated so far
    counters = {"csv": 0, "batch": 0, "merge": 0, "dml": 0}

    def ingest(target):
        counters["csv"] += 1
        path = f"{in_dir}/csv/l{counters['csv']:04d}.csv"
        rows = write_landmark_csv(path, rng, next_oid[0], target)
        next_oid[0] += len(rows)
        known.extend((r[0], r[3]) for r in rows)
        return {"kind": "ingest", "csv": path, "rows": len(rows), "bytes": os.path.getsize(path),
                "single_file": single_file}

    def append():
        counters["batch"] += 1
        path = f"{in_dir}/batches/b{counters['batch']:04d}.parquet"
        t0 = EPOCH_2024_US + next_event[0] * 260_000_000
        write_table(path, events_columns(rng, next_event[0], EVENTS_PER_BATCH, t0))
        next_event[0] += EVENTS_PER_BATCH
        return {"kind": "append", "batch": path, "app": "events-feed",
                "batch_id": counters["batch"], "rows": EVENTS_PER_BATCH}

    def key_range(width):
        oid, boro = known[int(rng.integers(0, len(known)))]
        return boro, oid, oid + width

    def borough():
        return list(BOROUGHS)[int(rng.integers(0, len(BOROUGHS)))]

    def in_borough(row, boro):
        row[3], row[22] = boro, BOROUGHS[boro]
        return row

    def merge():
        """A batch of corrections to one borough's landmarks, plus a few
        new ones."""
        counters["merge"] += 1
        path = f"{in_dir}/merge/m{counters['merge']:04d}.parquet"
        boro = borough()
        oids = [oid for oid, b in known if b == boro]
        rows = []
        for i in rng.choice(len(oids), size=min(40, len(oids)), replace=False):
            _, typed = landmark_row(rng, oids[int(i)])
            typed[10] = f"CORRECTED-{counters['merge']}"
            rows.append(in_borough(typed, boro))
        for _ in range(10):
            _, typed = landmark_row(rng, next_oid[0])
            known.append((next_oid[0], boro))
            next_oid[0] += 1
            rows.append(in_borough(typed, boro))
        write_landmark_parquet(path, rows)
        return {"kind": "merge", "src": path, "rows": len(rows)}

    def dml(kind):
        counters["dml"] += 1
        boro, lo, hi = key_range(DML_KEYS)
        op = {"kind": kind, "borough": boro, "lo": lo, "hi": hi}
        if kind == "update":
            op["status"] = f"UPDATED-{counters['dml']}"
        return op

    def make(kind, size_i):
        if kind == "ingest":
            return ingest(INGEST_BYTES[size_i])
        if kind == "append":
            return append()
        if kind == "merge":
            return merge()
        if kind in ("update", "delete"):
            return dml(kind)
        return {"kind": "optimize", "borough": borough()}

    warm = [make(k, 0) for k in ["ingest", "append", "merge", "update", "delete", "optimize"]]
    out = []
    for _ in range(decks):
        sizes = iter(range(len(INGEST_BYTES)))
        out.append([make(k, next(sizes) if k == "ingest" else 0) for k in WRITE_DECK])
    return {"workload": "lake_write", "manifest": f"{in_dir}/manifest.json",
            "events_schema": warm[1]["batch"], "warm": warm, "decks": out}


def plan_read(in_dir, seed, decks):
    """Read ops against a lineitem-shaped lake table with a seeded history
    of an append, a merge and a delete (checkpoints at versions 0 and 2,
    then a log tail, deletion vectors and a CDC feed), shuffled together
    with the analytics queries over the generated tables."""
    gen_tables(f"{in_dir}/tables", seed)
    rng = rng_for(seed, "read")
    os.makedirs(f"{in_dir}/hist", exist_ok=True)
    n_ord = READ_ORDERS
    odate = EPOCH_1995_US + rng.integers(0, 2405, n_ord) * DAY_US
    li = lineitem_columns(rng, np.arange(n_ord), odate, 2000, 100)
    n = len(li["l_orderkey"])
    li["l_id"] = pa.array(np.arange(n), pa.int64())
    base = pa.table(li)
    cut = int(n * 0.5)
    pq.write_table(base.slice(0, cut), f"{in_dir}/base.parquet")
    pq.write_table(base.slice(cut), f"{in_dir}/hist/append.parquet")
    # the merge rewrites the quantity of 1500 existing rows and adds 100
    upd = base.take(pa.array(rng.choice(cut, 1500, replace=False)))
    upd = upd.set_column(upd.schema.get_field_index("l_quantity"), "l_quantity",
                         pa.array(rng.integers(1, 51, 1500).astype(np.float64)))
    ins = lineitem_columns(rng, rng.integers(0, n_ord, 100),
                           EPOCH_1995_US + rng.integers(0, 2405, 100) * DAY_US, 2000, 100)
    ins["l_id"] = pa.array(np.arange(n, n + len(ins["l_orderkey"])), pa.int64())
    pq.write_table(pa.concat_tables([upd, pa.table(ins)]), f"{in_dir}/hist/merge.parquet")
    lo = int(rng.integers(0, n_ord - 300))
    history = [{"kind": "append", "src": f"{in_dir}/hist/append.parquet"},
               {"kind": "merge", "src": f"{in_dir}/hist/merge.parquet"},
               {"kind": "delete", "lo": lo, "hi": lo + int(rng.integers(50, 300))}]
    n_steps = len(history) + 1  # step 0 = create

    def make(kind, older):
        if kind == "lookup":
            return {"kind": kind, "key": int(rng.integers(0, n_ord))}
        if kind == "prune":
            lo = int(rng.integers(0, n_ord - 2000))
            return {"kind": kind, "part": int(rng.integers(1, 8)), "lo": lo,
                    "hi": lo + int(rng.integers(200, 2000))}
        if kind == "scan":
            return {"kind": kind}
        if kind == "timetravel":
            return {"kind": kind, "step": next(older)}
        return {"kind": "cdc", "from_step": 1, "to_step": n_steps - 1}

    queries = [{"kind": "query", "name": q} for q in QUERIES]

    def deck():
        older = iter(range(n_steps - 1))  # one time-travel op per older version
        ops = [make(k, older) for k in READ_DECK] + queries
        return [ops[i] for i in rng.permutation(len(ops))]
    # the warm-up is a whole deck: after one op of each kind, the next
    # deck still ran about a quarter faster than the first
    warm = deck()
    out = [deck() for _ in range(decks)]
    return {"workload": "read", "base": f"{in_dir}/base.parquet", "tables": f"{in_dir}/tables",
            "checkpoint_interval": READ_CHECKPOINT_INTERVAL,
            "history": history, "warm": warm, "decks": out}
