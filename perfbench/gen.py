"""Seeded input generators for the three benchmark workloads.

Everything the library receives is made here from one integer seed: the
report database and its submission batches, the read roots and patterns,
the planted-duplicate corpus, and the vectors and probes. The same seed
gives byte-identical inputs; any other seed gives another draw from the
same distributions. Each generator writes parquet files under `out` and
returns a plan dict (paths, op parameters, ground truth) that the JVM
JVM runner and the output checks read.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- report database (TPC-H-shaped star schema, the tables graft's
# TestCatalog describes) --------------------------------------------------

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_HOT = 50            # customers that own a tenth of all orders
SUB_BATCHES = 48      # submission batches; the loop wraps around them
SUB_ORDERS = 300      # orders per submission batch, before re-submissions
SUB_LINES = 800       # lineitems per submission batch, likewise
READ_CYCLES = 1_000   # cycles of reads drawn ahead; the loop never exhausts them
EPOCH0 = np.datetime64("1995-01-01", "D")
N_DAYS = 2_400

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts(days, null=None):
    """Day offsets from EPOCH0 as a naive microsecond timestamp column."""
    return pa.array((EPOCH0 + days.astype("timedelta64[D]"))
                    .astype("datetime64[us]"), pa.timestamp("us"), mask=null)


def _pick(rng, options, n):
    return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]


def report_db(rng):
    """Base tables as column dicts (numpy), plus the hot customer keys."""
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    customer = {
        "c_custkey": ck,
        "c_name": np.array([f"Customer#{k:09d}" for k in ck], dtype=object),
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    }
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    supplier = {
        "s_suppkey": sk,
        "s_name": np.array([f"Supplier#{k:09d}" for k in sk], dtype=object),
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    }
    pk = np.arange(N_PART, dtype=np.int64)
    part = {
        "p_partkey": pk,
        "p_name": np.array([f"part {k}" for k in pk], dtype=object),
        "p_brand": np.array([f"Brand#{b}" for b in
                             rng.integers(10, 56, N_PART)], dtype=object),
        "p_type": _pick(rng, PTYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900 + pk % 1000 / 10.0, 2),
    }
    # a tenth of the orders belong to N_HOT customers: the hot roots
    hot = np.sort(rng.choice(N_CUSTOMER, N_HOT, replace=False))
    is_hot = rng.random(N_ORDERS) < 0.1
    cust = np.where(is_hot, hot[rng.integers(0, N_HOT, N_ORDERS)],
                    rng.integers(0, N_CUSTOMER, N_ORDERS)).astype(np.int64)
    odays = rng.integers(0, N_DAYS, N_ORDERS)
    orders = {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": cust,
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": odays,
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    }
    nlines = rng.integers(1, 8, N_ORDERS)
    lok = np.repeat(orders["o_orderkey"], nlines)
    n = len(lok)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    lineitem = {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": np.repeat(odays, nlines) + rng.integers(1, 122, n),
    }
    nation = {"n_nationkey": np.arange(25, dtype=np.int32),
              "n_name": np.array([f"NATION_{i}" for i in range(25)],
                                 dtype=object),
              "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    region = {"r_regionkey": np.arange(5, dtype=np.int32),
              "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                  "MIDDLE EAST"], dtype=object)}
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}, hot


def _arrow(cols, ts_cols=()):
    arrays, names = [], []
    for k, v in cols.items():
        names.append(k)
        if k in ts_cols:
            arrays.append(_ts(np.asarray(v)))
        else:
            arrays.append(pa.array(v))
    return pa.table(arrays, names=names)


TS_COLS = ("o_orderdate", "l_shipdate")
MERGE_FIELDS = {
    "orders": ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority"],
    "lineitem": ["l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
                 "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                 "l_shipdate"],
}
# fields a re-submission may legitimately update (the rest it may null)
UPDATABLE = {"orders": {"o_orderstatus": ["F", "O", "P"]},
             "lineitem": {"l_returnflag": ["A", "N", "R"]}}


def _submission(rng, table, cols, mask):
    """One table's submission log: the window slice, then re-submitted
    copies of a seeded 40% of it with seeded null fields and updates.
    `sub_seq` is the submission order the merge keys on."""
    idx = np.flatnonzero(mask)
    again = np.sort(rng.choice(len(idx), int(len(idx) * 0.4), replace=False))
    rows = np.concatenate([idx, idx[again]])
    n0 = len(idx)
    arrays = {}
    for k, v in cols.items():
        vals = v[rows]
        null = np.zeros(len(rows), dtype=bool)
        if k in MERGE_FIELDS[table]:
            null[n0:] = rng.random(len(again)) < 0.3
        if k in UPDATABLE[table]:
            upd = np.zeros(len(rows), dtype=bool)
            upd[n0:] = rng.random(len(again)) < 0.2
            upd &= ~null
            vals = vals.copy()
            vals[upd] = _pick(rng, UPDATABLE[table][k], int(upd.sum()))
        arrays[k] = _ts(vals, null) if k in TS_COLS else pa.array(vals, mask=null)
    arrays["sub_seq"] = pa.array(np.arange(len(rows), dtype=np.int64))
    return pa.table(arrays)


def gen_reportdb(seed, out):
    rng = np.random.default_rng([seed, 1])
    tables, hot = report_db(rng)
    sizes = {}
    for name, cols in tables.items():
        path = os.path.join(out, "db", f"{name}.parquet")
        _write(_arrow(cols, TS_COLS), path)
        sizes[name] = len(next(iter(cols.values())))
    subs = []
    o, li = tables["orders"], tables["lineitem"]
    # each batch: the first SUB_ORDERS orders from a seeded order date
    # and the first SUB_LINES lineitems from a seeded ship date
    o_rank = np.lexsort((o["o_orderkey"], o["o_orderdate"]))
    l_rank = np.lexsort((li["l_linenumber"], li["l_orderkey"], li["l_shipdate"]))
    o_sorted_days = o["o_orderdate"][o_rank]
    l_sorted_days = li["l_shipdate"][l_rank]
    for b in range(SUB_BATCHES):
        d0 = int(rng.integers(0, N_DAYS - 30))
        s0 = int(rng.integers(0, N_DAYS - 30))
        o_mask = np.zeros(N_ORDERS, dtype=bool)
        i0 = np.searchsorted(o_sorted_days, d0)
        o_mask[o_rank[i0:i0 + SUB_ORDERS]] = True
        l_mask = np.zeros(len(li["l_orderkey"]), dtype=bool)
        j0 = np.searchsorted(l_sorted_days, s0)
        l_mask[l_rank[j0:j0 + SUB_LINES]] = True
        bdir = os.path.join(out, "subs", f"b{b:03d}")
        ot = _submission(rng, "orders", o, o_mask)
        lt = _submission(rng, "lineitem", li, l_mask)
        _write(ot, os.path.join(bdir, "orders.parquet"))
        _write(lt, os.path.join(bdir, "lineitem.parquet"))
        subs.append({"dir": bdir, "orders_rows": ot.num_rows,
                     "lineitem_rows": lt.num_rows})
    # read plan: one read of each kind per cycle, in this order, roots
    # drawn by the seed; 30% of customer roots are hot customers
    kinds = ["children", "parents", "pattern", "rollup"]

    def distinct(draw, k):
        got = []
        while len(got) < k:
            x = int(draw())
            if x not in got:
                got.append(x)
        return sorted(got)

    def customer():
        return hot[rng.integers(0, N_HOT)] if rng.random() < 0.3 \
            else rng.integers(0, N_CUSTOMER)

    reads = []
    for i in range(READ_CYCLES * len(kinds)):
        kind = kinds[i % len(kinds)]
        if kind in ("children", "rollup"):
            roots = distinct(customer, 3)
        elif kind == "parents":
            roots = distinct(lambda: rng.integers(0, N_ORDERS), 5)
        else:  # pattern: orders that bought any of these parts
            roots = distinct(lambda: rng.integers(0, N_PART), 3)
        reads.append({"kind": kind, "roots": roots})
    return {"workload": "reportdb", "db": os.path.join(out, "db"),
            "subs": subs, "reads": reads, "hot": [int(h) for h in hot],
            "rows": {**sizes,
                     "submission_rows": sum(s["orders_rows"] +
                                            s["lineitem_rows"] for s in subs)}}


# -- corpus with planted near-duplicate clusters --------------------------

N_DOCS = 3_000
N_CLUSTERS = 90            # near-dup clusters planted
CLUSTER_VARIANTS = 3       # near-duplicates of each cluster seed
N_EXACT = 60              # exact duplicates (case/punctuation changes)
VOCAB = 3_000
STOP = ["the", "and", "of", "a", "to", "with", "that", "be", "have"]
N_SOURCES = 8


def _vocab(rng):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB:
        n = int(rng.integers(2, 10))
        words.add("".join(letters[rng.integers(0, 26, n)]))
    return sorted(words)


def _doc(rng, vocab, zipf_p):
    n = int(rng.integers(20, 100))
    w = vocab[rng.choice(len(vocab), n, p=zipf_p)]
    stop = rng.random(n) < 0.25
    w[stop] = np.asarray(STOP, dtype=object)[rng.integers(0, len(STOP),
                                                            stop.sum())]
    return list(w)


def _render(words, rng):
    """Words → text with sentence ends and line breaks."""
    out, line = [], []
    for i, w in enumerate(words):
        line.append(w)
        if len(line) >= 8 and rng.random() < 0.2:
            out.append(" ".join(line) + ".")
            line = []
    if line:
        out.append(" ".join(line) + ".")
    return "\n".join(out)


def gen_corpus(seed, out):
    rng = np.random.default_rng([seed, 2])
    vocab = np.asarray(_vocab(rng), dtype=object)
    ranks = np.arange(1, len(vocab) + 1)
    zipf_p = (1.0 / ranks) / (1.0 / ranks).sum()
    texts, planted = [], []
    n_plain = N_DOCS - N_EXACT
    n_seeds = n_plain - N_CLUSTERS * CLUSTER_VARIANTS
    cluster_seeds = set(rng.choice(n_seeds, N_CLUSTERS, replace=False).tolist())
    for s in range(n_seeds):
        seed_words = _doc(rng, vocab, zipf_p)
        seed_id = len(texts)
        texts.append(_render(seed_words, rng))
        if s in cluster_seeds:
            for _ in range(CLUSTER_VARIANTS):
                v = list(seed_words)
                # a near-duplicate: 3% of words replaced
                for j in np.flatnonzero(rng.random(len(v)) < 0.03):
                    v[j] = vocab[rng.integers(0, len(vocab))]
                planted.append([seed_id, len(texts)])
                texts.append(_render(v, rng))
    exact = []
    # exact copies come from documents outside the planted clusters, so
    # exact dedup never removes a planted pair's member
    members = {d for pair in planted for d in pair}
    singles = np.array([d for d in range(n_plain) if d not in members])
    for _ in range(N_EXACT):
        src = int(singles[rng.integers(0, len(singles))])
        exact.append([src, len(texts)])
        texts.append(texts[src].upper().replace(".", " ;"))
    order = rng.permutation(len(texts))          # shuffle doc ids
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[order] = np.arange(len(texts))
    texts_arr = np.asarray(texts, dtype=object)[order]
    langs = _pick(rng, ["en", "de", "es", "fr", "zh"], len(texts))
    sources = np.array([f"src{i}" for i in
                        rng.integers(0, N_SOURCES, len(texts))], dtype=object)
    tbl = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(list(texts_arr), pa.string()),
        "lang": pa.array(list(langs), pa.string()),
        "source": pa.array(list(sources), pa.string()),
        "n_chars": pa.array([len(t) for t in texts_arr], pa.int64()),
    })
    path = os.path.join(out, "corpus", "documents.parquet")
    _write(tbl, path)
    remap = lambda pairs: sorted(sorted([int(new_id[a]), int(new_id[b])])  # noqa: E731
                                 for a, b in pairs)
    return {"workload": "corpus", "docs": path,
            "planted": remap(planted), "exact": remap(exact),
            "rows": {"documents": len(texts), "planted_pairs": len(planted),
                     "exact_pairs": len(exact)}}


# -- vectors around ten labels --------------------------------------------

DIM = 64
N_LABELS = 10
N_BASE = 2_000
ADMIT_BATCHES = 400
ADMIT_ROWS = 100
PROBE_BATCHES = 400
PROBE_ROWS = 16
PROBE_ID0 = 1_000_000_000


def _vectors(rng, centers, n):
    labels = rng.integers(0, N_LABELS, n)
    v = centers[labels] + rng.normal(0, 0.35, (n, DIM)) / np.sqrt(DIM) * 4
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32), \
        labels


def _vec_table(ids, v, labels):
    flat = pa.array(v.reshape(-1), pa.float32())
    lists = pa.FixedSizeListArray.from_arrays(flat, DIM).cast(
        pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": lists,
                     "label": pa.array(labels.astype(np.int32))})


def gen_ann(seed, out):
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(0, 1, (N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    v, lab = _vectors(rng, centers, N_BASE)
    base = os.path.join(out, "ann", "base.parquet")
    _write(_vec_table(np.arange(N_BASE), v, lab), base)
    admits, probes = [], []
    nxt = N_BASE
    for b in range(ADMIT_BATCHES):
        v, lab = _vectors(rng, centers, ADMIT_ROWS)
        p = os.path.join(out, "ann", "admit", f"a{b:04d}.parquet")
        _write(_vec_table(np.arange(nxt, nxt + ADMIT_ROWS), v, lab), p)
        admits.append(p)
        nxt += ADMIT_ROWS
    for b in range(PROBE_BATCHES):
        v, lab = _vectors(rng, centers, PROBE_ROWS)
        ids = PROBE_ID0 + b * PROBE_ROWS + np.arange(PROBE_ROWS)
        p = os.path.join(out, "ann", "probe", f"p{b:04d}.parquet")
        _write(_vec_table(ids, v, lab), p)
        probes.append(p)
    return {"workload": "ann", "base": base, "admits": admits,
            "probes": probes,
            "rows": {"base": N_BASE, "admit_batch": ADMIT_ROWS,
                     "probe_batch": PROBE_ROWS}}


GENERATORS = {"reportdb": gen_reportdb, "corpus": gen_corpus, "ann": gen_ann}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` under `out`; return the plan,
    also saved as out/plan.json with the input sizes in rows and bytes."""
    os.makedirs(out, exist_ok=True)
    plan = GENERATORS[workload](seed, out)
    plan["seed"] = seed
    total = 0
    for root, _, files in os.walk(out):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    plan["input_bytes"] = total
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
