"""Seeded inputs for the benchmark. The same seed gives the same rows and
selectors; nothing is read from outside the benchmark's work directory.
Table shapes and value domains follow FIXTURES.md, and timestamps are
written as the fixtures write them (µs, no time zone)."""
import hashlib
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
COLORS = ["red", "green", "blue", "amber"]
# the widened properties bag; `g` is absent from a quarter of the messages
PROP_KEYS = ["k", "a", "b", "c", "d", "e", "f", "g"]
VOCAB = ("key agg row scan slow fast table value part hash a merge batch spark the line "
         "sort window data column join small customer query big order group stream filter "
         "vector").split()
BASE_US = 1704067200 * 1000000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1000000
DAY_US = 86400 * 1000000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def events(seed, n, users, wide_props, salt=1):
    """The message table: `n` messages over 30 days of event time, roughly
    time-ordered by event_id. `wide_props` widens the bag from the
    fixture's single key `k` to the eight PROP_KEYS."""
    r = _rng(seed, salt)
    step = max(1, SPAN_US // n)
    ids = np.arange(n, dtype=np.int64)
    k = r.integers(0, 100, n).tolist()
    if wide_props:  # plain lists: formatting numpy scalars is ~20x slower
        a, b, d = (r.integers(0, m, n).tolist() for m in (1000, 10, 50))
        c = r.integers(0, len(COLORS), n).tolist()
        e = (r.integers(0, 10000, n) / 100.0).tolist()
        f = r.integers(0, 2, n).tolist()
        g = r.integers(0, 10000, n).tolist()
        has_g = (r.integers(0, 4, n) != 0).tolist()
        props = [f'{{"k": {k[i]}, "a": {a[i]}, "b": "{b[i]}", "c": "{COLORS[c[i]]}", '
                 f'"d": "u{d[i]}", "e": {e[i]}, "f": {"true" if f[i] else "false"}'
                 + (f', "g": {g[i]}}}' if has_g[i] else "}") for i in range(n)]
    else:
        props = [f'{{"k": {x}}}' for x in k]
    return pa.table({
        "event_id": ids,
        "ts": pa.array(BASE_US + ids * step + r.integers(0, step, n), pa.timestamp("us")),
        "user_id": r.integers(0, users, n),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n)],
        "value": (r.integers(0, 49000, n) + 1) / 100.0,
        "props": props,
    })


def write_parts(table, parts, out_dir):
    """`parts` equal files, named in event_id order."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    per = table.num_rows // parts
    for i in range(parts):
        pq.write_table(table.slice(i * per, per), out / f"part-{i:05d}.parquet")


def customer(seed, n):
    r = _rng(seed, 2)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": ids,
        "c_name": [f"Customer#{i:09d}" for i in ids],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": (r.integers(0, 1099999, n) - 100000) / 100.0,
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[r.integers(0, 5, n)],
    })


def _days(r, first_day, span, n):
    return pa.array((first_day + r.integers(0, span, n)) * DAY_US, pa.timestamp("us"))


def write_tables(seed, sf, out_dir):
    """Every fixture table at scale factor `sf` as `<out_dir>/<table>.parquet`.
    documents and embeddings keep the fixture's floor of 500 rows."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)

    def n(full, floor=1):
        return max(floor, round(full * sf))

    n_supp, n_cust, n_part = n(10000), n(150000), n(200000)
    n_ord, n_line, n_ev = n(1500000), n(6000000), n(1000000)

    def write(name, t):
        pq.write_table(t, out / f"{name}.parquet")

    def pick(r, xs, m):
        return np.array(xs)[r.integers(0, len(xs), m)]

    write("region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    write("nation", pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    r = _rng(seed, 3)
    write("supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": (r.integers(0, 1099999, n_supp) - 100000) / 100.0}))
    write("customer", customer(seed, n_cust))
    r = _rng(seed, 4)
    write("part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(pick(r, ["small", "red", "blue", "large", "green"], n_part),
                                          " "), pick(r, ["ring", "widget", "bolt", "gear", "valve"], n_part)),
        "p_brand": [f"Brand#{x}" for x in r.integers(1, 26, n_part)],
        "p_type": pick(r, ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (np.arange(n_part) % 1000 + 9000) / 10.0}))
    r = _rng(seed, 5)
    write("orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": (r.integers(0, 49900000, n_ord) + 100000) / 100.0,
        "o_orderdate": _days(r, EPOCH_1995, 2404, n_ord),
        "o_orderpriority": pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                n_ord)}))
    r = _rng(seed, 6)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (r.integers(9000, 10000, n_line) / 10.0), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": pick(r, ["F", "O"], n_line),
        "l_shipdate": _days(r, EPOCH_1995 + 1, 2498, n_line)}))
    write("events", events(seed, n_ev, max(150, n_cust // 10), wide_props=False, salt=7))

    # documents: every 10th doc (offset 9) repeats its predecessor, and half
    # of those add one word, so the dedup keys find exact and near pairs
    r = _rng(seed, 8)
    n_doc = n(50000, 500)
    texts = []
    for i in range(n_doc):
        if i % 10 == 9:
            texts.append(texts[-1] + (" stream" if i % 20 == 9 else ""))
        else:
            texts.append(" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), int(r.integers(8, 98)))]))
    write("documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": pick(r, ["de", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))

    # embeddings: ten planted clusters, label = cluster
    r = _rng(seed, 9)
    n_emb = n(20000, 500)
    centers = r.uniform(-0.2, 0.2, (10, 64))
    label = r.integers(0, 10, n_emb)
    vecs = (centers[label] + r.uniform(-0.05, 0.05, (n_emb, 64))).astype(np.float32)
    write("embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())}))


def selectors(seed, n):
    """`n` selectors over the widened bag. Each references exactly two
    distinct bag keys, once each and never under BETWEEN (whose compiled
    form repeats its operand), so the optimized plan holds exactly 2n
    get_json_object probes; the rest of each selector tests event_type and
    value. Mixes IN, BETWEEN, LIKE, arithmetic and IS NULL. The shape of
    selector i (its form, keys and operators) is fixed; the seed draws the
    constants, within ranges that keep selectivity, and so the work per
    message, from swinging between seeds."""
    r = random.Random(seed)

    def prop(key):
        return {
            "k": lambda: f"props.k >= {r.randrange(30, 70)}",
            "a": lambda: f"props.a * 2 + {r.randrange(50)} > {r.randrange(800, 1200)}",
            "b": lambda: "props.b IN (" + ", ".join(f"'{d}'" for d in r.sample(range(10), 5)) + ")",
            "c": lambda: f"props.c {r.choice(['', 'NOT '])}IN ('{r.choice(COLORS)}', '{r.choice(COLORS)}')",
            "d": lambda: f"props.d LIKE 'u{r.randrange(1, 5)}%'",
            "e": lambda: f"props.e < {r.randrange(30, 70)}.5",
            "f": lambda: f"props.f = '{r.choice(['true', 'false'])}'",
            "g": lambda: f"props.g IS {r.choice(['', 'NOT '])}NULL",
        }[key]()

    def meta(kind):
        if kind == 0:
            return "event_type IN (" + ", ".join(f"'{t}'" for t in r.sample(EVENT_TYPES, 3)) + ")"
        if kind == 1:
            return f"event_type <> '{r.choice(EVENT_TYPES)}'"
        if kind == 2:
            lo = r.randrange(50, 200)
            return f"value BETWEEN {lo} AND {lo + r.randrange(150, 250)}"
        if kind == 3:
            return f"value * 2 > {r.randrange(300, 600)}"
        return f"event_type LIKE '{r.choice('scpve')}%'"

    out = []
    for i in range(n):
        # a second key 1..7 places after the first: always distinct
        p1 = prop(PROP_KEYS[i % 8])
        p2 = prop(PROP_KEYS[(i + 1 + (i // 8) % 7) % 8])
        form = i % 3
        if form == 0:
            sel = f"{meta(i % 5)} AND ({p1} OR {p2})"
        elif form == 1:
            sel = f"({p1} AND {meta(i % 5)}) OR ({p2} AND {meta((i + 2) % 5)})"
        else:
            sel = f"{p1} AND NOT ({p2}) AND {meta(i % 5)}"
        out.append([f"sub{i:03d}", sel])
    return out


def digest(path):
    """sha256 over the row content of every parquet file under `path`."""
    h = hashlib.sha256()
    p = Path(path)
    for f in sorted(p.rglob("*.parquet")) if p.is_dir() else [p]:
        for col in pq.read_table(f).columns:
            h.update(str(col.to_pylist()).encode())
    return h.hexdigest()


def prepare(workload, seed, seconds, c, work):
    """Writes the workload's inputs under `work`, as the harness expects them."""
    import json
    work = Path(work)
    if workload == "filter-fanout":
        write_parts(events(seed, c["messages"], c["users"], wide_props=True), c["files"],
                    work / "corpus")
        (work / "selectors.json").write_text(json.dumps(selectors(seed, c["selectors"])))
    elif workload == "filter-pipeline":
        n_files = max(2, (c["warmup_s"] + seconds) * 1000 // c["interval_ms"])
        write_parts(events(seed, n_files * c["messages_per_file"], c["users"], wide_props=True),
                    n_files, work / "stage")
        (work / "sf").mkdir(parents=True, exist_ok=True)
        pq.write_table(customer(seed, c["users"]), work / "sf" / "customer.parquet")
    else:
        write_tables(seed, c["scale"], work / "sf")
