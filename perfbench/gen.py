"""Seeded input generator for perfbench.

Every input a workload reads is a pure function of (workloads.json, seed):
the repository's test-table schemas as multi-part parquet, the upload CSVs and the
app_session request script. The scoring PipelineModel is not seeded: build.py
trains it once per build (see README.md).

Usage: python3 perfbench/gen.py <outDir> <seed>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
BASE_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
PART_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

# micros since epoch
EVENTS_BASE = 1704067200 * 1_000_000          # 2024-01-01
EVENTS_SPAN = 30 * 24 * 3600 * 1_000_000
DATES_BASE = 788918400 * 1_000_000            # 1995-01-01
DAY = 86400 * 1_000_000


def load_spec(path=os.path.join(HERE, "workloads.json")):
    with open(path) as f:
        return json.load(f)


def tiny_spec(spec):
    """A scaled-down copy of `spec`, for the smoke test and the build's
    class-archive run."""
    spec = json.loads(json.dumps(spec))
    spec["tables"].update({
        "events": 3000, "users": 300, "documents": 300, "embeddings": 300,
        "customer": 150, "supplier": 10, "part": 200, "orders": 1500, "lineitem": 6000})
    spec["uploads"]["rows"] = 300
    return spec


def write_parts(table, path, parts):
    """One directory of `parts` single-row-group parquet files."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for i in range(parts):
        lo, hi = bounds[i], bounds[i + 1]
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=max(1, hi - lo))


def money(rng, n, lo, hi):
    return np.floor((lo + rng.random(n) * (hi - lo)) * 100) / 100


def vocabulary(size):
    return [BASE_VOCAB[i] if i < len(BASE_VOCAB)
            else BASE_VOCAB[i % len(BASE_VOCAB)] + str(i // len(BASE_VOCAB))
            for i in range(size)]


def documents(rng, n, c):
    vocab = vocabulary(c["vocabulary"])
    lo, hi = c["words_per_doc"]
    langs = list(c["lang_mix"])
    lang_p = np.array([c["lang_mix"][k] for k in langs], dtype=float)
    lang_p /= lang_p.sum()
    texts = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < c["exact_dup_share"]:
            texts.append(texts[i - 1 - int(rng.integers(0, 8))])
        elif i >= 10 and r < c["exact_dup_share"] + c["near_dup_share"]:
            words = texts[i - 1 - int(rng.integers(0, 8))].split(" ")
            every = c["near_dup_swap_every"]
            for j in range(3 % every, len(words), every):
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(lo, hi + 1))
            texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[j] for j in rng.choice(len(langs), n, p=lang_p)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, c["sources"], n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events_columns(rng, n, users, first_id=0):
    ts = EVENTS_BASE + (rng.random(n) * EVENTS_SPAN).astype(np.int64)
    value = np.floor(np.minimum(-50.0 * np.log1p(-rng.random(n)), 600.0) * 100) / 100
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, len(EVENT_TYPES), n)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def events_table(cols):
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def upload_csv(cols):
    """An events-schema CSV in the reader's pinned timestamp format, quoted
    the way Spark's CSV writer quotes (backslash-escaped inner quotes)."""
    import datetime as dt
    lines = ["event_id,ts,user_id,event_type,value,props"]
    for i in range(len(cols["event_id"])):
        t = dt.datetime.fromtimestamp(int(cols["ts"][i]) // 1_000_000, dt.timezone.utc)
        props = cols["props"][i].replace('"', '\\"')
        lines.append(f'{cols["event_id"][i]},{t:%Y-%m-%d %H:%M:%S},{cols["user_id"][i]},'
                     f'{cols["event_type"][i]},{cols["value"][i]!r},"{props}"')
    return "\n".join(lines) + "\n"


def star_schema(rng, t):
    nc, ns, np_, no, nl = (t["customer"], t["supplier"], t["part"],
                           t["orders"], t["lineitem"])
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, nc, -1000, 10000),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, nc)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, ns, 0, 10000)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(0, 25, np_)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, np_)],
        "p_size": pa.array(1 + rng.integers(0, 50, np_), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(np_) % 1000) * 0.1})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [["O", "P", "F"][j] for j in rng.integers(0, 3, no)],
        "o_totalprice": money(rng, no, 1000, 500000),
        "o_orderdate": pa.array(DATES_BASE + rng.integers(0, 2400, no) * DAY,
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(1 + rng.integers(0, 7, nl), pa.int32()),
        "l_quantity": (1 + rng.integers(0, 50, nl)).astype(float),
        "l_extendedprice": money(rng, nl, 900, 105000),
        "l_discount": rng.integers(0, 11, nl) * 0.01,
        "l_tax": rng.integers(0, 9, nl) * 0.01,
        "l_returnflag": [["A", "N", "R"][j] for j in rng.integers(0, 3, nl)],
        "l_linestatus": ["F" if x < 0.5 else "O" for x in rng.random(nl)],
        "l_shipdate": pa.array(DATES_BASE + rng.integers(0, 2400, nl) * DAY,
                               pa.timestamp("us"))})
    return out


# Free-form SQL the client types into the `taxi` view; `{a}`/`{b}` are
# filled from the request's seeded parameter. The same text runs on DuckDB
# over the twin of the enriched view (oracle.py).
SQL_TEMPLATES = [
    "SELECT pickup_hour, COUNT(*) AS trips, "
    "CAST(SUM(floor(fare_amount * 100 + 0.5)) AS BIGINT) AS fare_cents "
    "FROM taxi WHERE fare_amount > {a} GROUP BY pickup_hour ORDER BY pickup_hour",
    "SELECT event_type, pickup_dow, COUNT(*) AS trips FROM taxi "
    "WHERE pickup_hour BETWEEN {a} AND {b} "
    "GROUP BY event_type, pickup_dow ORDER BY event_type, pickup_dow",
    "SELECT user_id, COUNT(*) AS trips, MAX(fare_amount) AS max_fare FROM taxi "
    "WHERE is_weekend = {a} GROUP BY user_id ORDER BY trips DESC, user_id LIMIT 25",
    "SELECT night_flag, is_weekend, COUNT(*) AS trips, CAST(SUM(k) AS BIGINT) AS k_sum "
    "FROM taxi WHERE k < {a} GROUP BY night_flag, is_weekend "
    "ORDER BY night_flag, is_weekend",
]


def render_sql(template, p):
    a = [10 * p, 4 * p, p % 2, 40 + 20 * p][template]
    return SQL_TEMPLATES[template].format(a=a, b=a + 8)


def block_order(weights):
    """One block of request types, interleaved by smooth weighted
    round-robin, so each type is spread evenly through the block."""
    total = sum(weights.values())
    credit = dict.fromkeys(weights, 0)
    order = []
    for _ in range(total):
        for op, w in weights.items():
            credit[op] += w
        op = max(credit, key=lambda k: credit[k])
        credit[op] -= total
        order.append(op)
    return order


def interleave(*lists):
    out = []
    for i in range(max(len(x) for x in lists)):
        out += [x[i] for x in lists if i < len(x)]
    return out


def request_script(rng, spec, blocks):
    """The app_session request script: `blocks` copies of one block of
    request types in a fixed interleaved order. Registry queries, drains,
    SQL templates and KPI tables rotate in a fixed order too, so every run
    sends requests of the same cost in the same order; the seed draws the
    data and each request's parameters (preview size, SQL parameter,
    upload file, score threshold)."""
    s = spec["session"]
    runs = interleave([q for q in s["run_queries"] if q.startswith("q")],
                      [q for q in s["run_queries"] if not q.startswith("q")])
    drains = s["drain_queries"]
    count = dict.fromkeys(s["block"], 0)
    script = []
    for _ in range(blocks):
        for op in block_order(s["block"]):
            i = count[op]
            count[op] += 1
            req = {"op": op}
            if op == "preview":
                req["n"] = int(rng.choice([20, 50]))
            elif op == "sql":
                t, p = i % len(SQL_TEMPLATES), int(rng.integers(0, 3))
                req["key"] = f"t{t}p{p}"
                req["sql"] = render_sql(t, p)
            elif op == "kpi":
                req["table"] = ["payment", "hour", "heatmap"][i % 3]
            elif op == "run":
                req["query"] = runs[i % len(runs)]
            elif op == "drain":
                req["query"] = drains[i % len(drains)]
            elif op == "upload":
                req["file"] = int(rng.integers(0, spec["uploads"]["files"]))
            elif op == "score":
                req["threshold"] = float(rng.choice([0.3, 0.5, 0.7]))
            script.append(req)
    return script


def generate(out_dir, seed, spec):
    rng = np.random.default_rng(seed)
    t = spec["tables"]
    parts = spec["parquet_parts"]
    os.makedirs(out_dir, exist_ok=True)
    ev = events_columns(rng, t["events"], t["users"])
    write_parts(events_table(ev), f"{out_dir}/events.parquet", parts)
    write_parts(documents(rng, t["documents"], spec["corpus"]),
                f"{out_dir}/documents.parquet", parts)
    nv, dim = t["embeddings"], t["embedding_dim"]
    g = rng.standard_normal((nv, dim))
    g = (g / np.linalg.norm(g, axis=1, keepdims=True)).astype(np.float32)
    write_parts(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(g), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())}),
        f"{out_dir}/embeddings.parquet", parts)
    for name, tab in star_schema(rng, t).items():
        write_parts(tab, f"{out_dir}/{name}.parquet",
                    1 if tab.num_rows < 100 else parts)
    up = spec["uploads"]
    os.makedirs(f"{out_dir}/uploads", exist_ok=True)
    for i in range(up["files"]):
        cols = events_columns(rng, up["rows"], t["users"], first_id=10_000_000 * (i + 1))
        with open(f"{out_dir}/uploads/upload_{i}.csv", "w") as f:
            f.write(upload_csv(cols))
    script = request_script(rng, spec, blocks=64)
    with open(f"{out_dir}/script.json", "w") as f:
        json.dump(script, f)
    with open(f"{out_dir}/GENERATED", "w") as f:
        f.write(str(seed))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), load_spec())
