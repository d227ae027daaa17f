"""Output checks, run after the JVM has exited (outside the timed loop).

Each workload's checker re-derives what every operation should have
returned from the same generated parquet, with DuckDB SQL or numpy, and
returns one verdict per op id plus the workload's answer recall:

- reportdb: upsert-merge rows, closure id sets, notification ids and the
  spool's register-once set against DuckDB re-derivations; read results
  (closures, pattern queries, rollups) likewise.
- corpus: every emitted pair meets the Jaccard threshold, planted pairs
  give the recall, and the exact-dedup, cluster, quality, quota and pack
  stages match their DuckDB/Python forms.
- ann: recall@10 against exact brute-force cosine, with a floor, and the
  streamed code table against a numpy re-encode with the saved model.
"""

import base64
import glob
import os
import re

import duckdb
import numpy as np
import pyarrow as pa

NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"


class Verdicts:
    def __init__(self):
        self.bad = {}

    def fail(self, op, why):
        self.bad.setdefault(op["id"], why)

    def expect(self, op, cond, why):
        if not cond:
            self.fail(op, why)


def _ok_ops(run, name=None):
    return [o for o in run["ops"] if o["ok"] and (name is None or o["op"] == name)]


# -- reportdb --------------------------------------------------------------

ID_COLS = {
    "region": ["r_regionkey"], "nation": ["n_nationkey"],
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}
MERGE_FIELDS = {
    "orders": ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority"],
    "lineitem": ["l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
                 "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                 "l_shipdate"],
}
SUBSCRIPTIONS = [
    ("failed_big_orders", "orders",
     "o_orderstatus = 'F' AND o_totalprice > 400000"),
    ("negative_balance", "customer", "c_acctbal < -900"),
    ("returned_full_qty", "lineitem",
     "l_returnflag = 'R' AND l_quantity >= 48"),
]
WORST = {"R": 0, "A": 1, "N": 2}


def _ids(con, table, where="TRUE"):
    cols = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in ID_COLS[table])
    return sorted(r[0] for r in con.execute(
        f"SELECT {cols} FROM {table} WHERE {where}").fetchall())


def _in(col, values):
    vals = ",".join(str(int(v)) for v in values) or "NULL"
    return f"{col} IN ({vals})"


def _same_ids(v, op, got, want):
    """Closure-shaped result: every expected type matches exactly and
    any other type returned is empty."""
    for t in set(got) | set(want):
        if sorted(got.get(t, [])) != want.get(t, []):
            v.fail(op, f"{op['op']}: {t} ids differ")
            return


def _element_recall(got, want):
    hit = total = 0
    for t, ids in want.items():
        s = set(got.get(t, []))
        hit += sum(1 for i in ids if i in s)
        total += len(ids)
    return hit, total


def _notif_id(name, table, obj_id):
    b = lambda s: base64.b64encode(s.encode()).decode().replace("/", "-")  # noqa: E731
    return f"{name}:{table}:{b(obj_id)}:{b('m0')}"


def check_reportdb(plan, run):
    v = Verdicts()
    con = duckdb.connect()
    for t in ID_COLS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{plan['db']}/{t}.parquet')")
    spools = {}
    for op in _ok_ops(run, "ingest"):
        out = op["out"]
        spools.setdefault(out["spool"], []).append(op)
        bdir = out["batch"]
        for t in ("orders", "lineitem"):
            keys = ", ".join(ID_COLS[t])
            fields = ", ".join(
                f"arg_max({f}, sub_seq) FILTER (WHERE {f} IS NOT NULL) AS {f}"
                for f in MERGE_FIELDS[t])
            want = f"SELECT {keys}, {fields} FROM " \
                f"read_parquet('{bdir}/{t}.parquet') GROUP BY {keys}"
            cols = ", ".join(ID_COLS[t] + MERGE_FIELDS[t])
            got = f"SELECT {cols} FROM read_parquet('{out['merged_dir']}/{t}.parquet/*.parquet')"
            diff = con.execute(f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got})) "
                               f"UNION ALL SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))"
                               ).fetchall()
            n = con.execute(f"SELECT count(*) FROM ({want})").fetchone()[0]
            v.expect(op, n > 0 and all(d[0] == 0 for d in diff),
                     f"upsert-merge of {t} differs")
            con.execute(f"CREATE OR REPLACE TEMP TABLE root_{t} AS "
                        f"SELECT DISTINCT {keys} FROM read_parquet('{bdir}/{t}.parquet')")
        # parents closure of the batch, over the report DB
        con.execute("""CREATE OR REPLACE TEMP TABLE c_lineitem AS
            SELECT l.* FROM lineitem l SEMI JOIN root_lineitem r
            USING (l_orderkey, l_linenumber)""")
        con.execute("""CREATE OR REPLACE TEMP TABLE c_orders AS
            SELECT * FROM orders WHERE o_orderkey IN
            (SELECT o_orderkey FROM root_orders UNION SELECT l_orderkey FROM c_lineitem)""")
        con.execute("""CREATE OR REPLACE TEMP TABLE c_customer AS SELECT * FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM c_orders)""")
        con.execute("""CREATE OR REPLACE TEMP TABLE c_part AS SELECT * FROM part
            WHERE p_partkey IN (SELECT l_partkey FROM c_lineitem)""")
        con.execute("""CREATE OR REPLACE TEMP TABLE c_supplier AS SELECT * FROM supplier
            WHERE s_suppkey IN (SELECT l_suppkey FROM c_lineitem)""")
        con.execute("""CREATE OR REPLACE TEMP TABLE c_nation AS SELECT * FROM nation
            WHERE n_nationkey IN (SELECT c_nationkey FROM c_customer
                                  UNION SELECT s_nationkey FROM c_supplier)""")
        con.execute("""CREATE OR REPLACE TEMP TABLE c_region AS SELECT * FROM region
            WHERE r_regionkey IN (SELECT n_regionkey FROM c_nation)""")
        want = {}
        for t in ID_COLS:
            cols = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in ID_COLS[t])
            want[t] = sorted(r[0] for r in con.execute(
                f"SELECT {cols} FROM c_{t}").fetchall())
        _same_ids(v, op, out["closure"], want)
        notif = set()
        for name, t, pred in SUBSCRIPTIONS:
            cols = " || ':' || ".join(f"CAST({c} AS VARCHAR)" for c in ID_COLS[t])
            for (obj,) in con.execute(f"SELECT {cols} FROM c_{t} WHERE {pred}").fetchall():
                notif.add(_notif_id(name, t, obj))
        files = [os.path.join(out["notif_dir"], f) for f in out["notif_files"]]
        got = [r[0] for r in con.execute(
            "SELECT notification_id FROM read_parquet(?)", [files]).fetchall()] \
            if files else []
        v.expect(op, len(got) == len(set(got)) and set(got) == notif,
                 "notification ids differ")
        op["_notif"] = notif
    for spool, ops in spools.items():
        reg = glob.glob(os.path.join(spool, "registered", "*.parquet"))
        got = [r[0] for r in con.execute(
            "SELECT notification_id FROM read_parquet(?)", [reg]).fetchall()] \
            if reg else []
        want = set().union(*[o.get("_notif", set()) for o in ops])
        if len(got) != len(set(got)) or set(got) != want:
            for o in ops:
                v.fail(o, "spool did not register each notification once")
    hit = total = 0
    for op in run["ops"]:
        if not op["ok"] or op["kind"] != "read":
            continue
        kind, roots, got = op["op"], op["out"]["roots"], op["out"]["result"]
        if kind in ("children", "rollup"):
            c = _in("c_custkey", roots)
            o = f"o_custkey IN (SELECT c_custkey FROM customer WHERE {c})"
            li = f"l_orderkey IN (SELECT o_orderkey FROM orders WHERE {o})"
            want = {"customer": _ids(con, "customer", c),
                    "orders": _ids(con, "orders", o),
                    "lineitem": _ids(con, "lineitem", li)}
        if kind == "children":
            _same_ids(v, op, got, want)
        elif kind == "parents":
            o = _in("o_orderkey", roots)
            cu = f"c_custkey IN (SELECT o_custkey FROM orders WHERE {o})"
            na = f"n_nationkey IN (SELECT c_nationkey FROM customer WHERE {cu})"
            re_ = f"r_regionkey IN (SELECT n_regionkey FROM nation WHERE {na})"
            want = {"orders": _ids(con, "orders", o),
                    "customer": _ids(con, "customer", cu),
                    "nation": _ids(con, "nation", na),
                    "region": _ids(con, "region", re_)}
            _same_ids(v, op, got, want)
        elif kind == "pattern":
            li = _in("l_partkey", roots)
            want = {"orders": _ids(con, "orders",
                                   f"o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE {li})")}
            _same_ids(v, op, got, want)
        elif kind == "rollup":
            rows = con.execute(f"""SELECT l_orderkey, min(CASE l_returnflag
                    WHEN 'R' THEN 0 WHEN 'A' THEN 1 ELSE 2 END) FROM lineitem
                WHERE {li} GROUP BY 1 ORDER BY 1""").fetchall()
            inv = {p: s for s, p in WORST.items()}
            want_worst = [[int(k), inv[p]] for k, p in rows]
            got_worst = sorted([int(r[0]), r[1]] for r in got["worst"])
            v.expect(op, got_worst == want_worst, "worst-status rollup differs")
            rows = con.execute(f"""SELECT o_orderpriority,
                    count(*) FILTER (WHERE o_orderstatus = 'F'),
                    count(*) FILTER (WHERE o_orderstatus = 'O'),
                    count(*) FILTER (WHERE o_orderstatus = 'P')
                FROM orders WHERE {o} GROUP BY 1 ORDER BY 1""").fetchall()
            want_pivot = [list(r) for r in rows]
            got_pivot = sorted([r[0], int(r[1]), int(r[2]), int(r[3])]
                               for r in got["pivot"])
            v.expect(op, got_pivot == want_pivot, "status pivot differs")
            hit += sum(1 for r in want_worst if r in got_worst) + \
                sum(1 for r in want_pivot if r in got_pivot)
            total += len(want_worst) + len(want_pivot)
            continue
        h, t = _element_recall(got, want)
        hit, total = hit + h, total + t
    con.close()
    return v.bad, (hit / total if total else None)


# -- corpus ----------------------------------------------------------------

TAU = 0.5
MIN_QUALITY = 0.5
QUOTA = 100000
SEQ_LEN = 2048


def _norm(text):
    return re.sub("[^a-z0-9]+", " ", text.lower()).strip()


def _shingles(text, n=3):
    toks = _norm(text).split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _quality_sql():
    chars = "CAST(length(text) AS DOUBLE)"
    words = f"CAST((length({NORM}) - length(replace({NORM}, ' ', '')) + 1) AS DOUBLE)"
    padded = f"(' ' || {NORM} || ' ')"
    stop = " + ".join(
        f"CAST((length({padded}) - length(replace({padded}, '{p}', ''))) / {len(p)} AS BIGINT)"
        for p in [" the ", " and ", " of ", " a "])
    return f"""(CASE WHEN {chars} >= 200 AND {chars} <= 2000 THEN 1.0
        WHEN {chars} < 200 THEN {chars} / 200.0 ELSE 2000.0 / {chars} END) * 0.5
      + (CASE WHEN {chars} / {words} >= 3.0 AND {chars} / {words} <= 10.0
        THEN 1.0 ELSE 0.5 END) * 0.3
      + least(CAST(({stop}) AS DOUBLE) / {words} * 2.0, 1.0) * 0.2"""


def check_corpus(plan, run):
    v = Verdicts()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{plan['docs']}')")
    texts = dict(con.execute("SELECT doc_id, text FROM docs").fetchall())
    source = dict(con.execute("SELECT doc_id, source FROM docs").fetchall())
    all_sources = set(source.values())
    planted = [tuple(p) for p in plan["planted"]]
    shingle_cache = {}

    def sh(d):
        if d not in shingle_cache:
            shingle_cache[d] = _shingles(texts[d])
        return shingle_cache[d]

    found = want = 0
    kept_by_job = {}
    ops = run["ops"]
    for i, op in enumerate(ops):
        if not op["ok"] or op["op"] != "dedup":
            continue
        exact = {r[0] for r in con.execute(
            f"SELECT min(doc_id) FROM docs GROUP BY md5({NORM})").fetchall()}
        out = op["out"]
        v.expect(op, out["exact_kept"] == len(exact), "exact dedup count differs")
        pairs = [(int(a), int(b)) for a, b, _ in out["pairs"]]
        for a, b, j in out["pairs"]:
            sa, sb = sh(int(a)), sh(int(b))
            jac = len(sa & sb) / len(sa | sb)
            if not (a < b and a in exact and b in exact and jac >= TAU
                    and abs(jac - j) < 1e-9):
                v.fail(op, f"pair ({a}, {b}) fails the Jaccard threshold")
                break
        comp = _components(pairs)
        kept = exact - {d for d, root in comp.items() if d != root}
        v.expect(op, out["kept"] == len(kept), "cluster representatives differ")
        kept_by_job[op["cycle"]] = kept
        if not op["warmup"]:
            got = set(pairs)
            live = [p for p in planted if p[0] in exact and p[1] in exact]
            found += sum(1 for p in live if p in got)
            want += len(live)
        # the pack ops that follow, one per source shard (the warm-up
        # packs twice), use this dedup's output and cover every source
        packed, threw = set(), False
        for nxt in ops[i + 1:]:
            if nxt["op"] != "pack":
                break
            if not nxt["ok"]:  # already failed; its sources are unknown
                threw = True
                continue
            shard = set(nxt["out"]["sources"])
            check_pack(v, con, nxt, {d for d in kept if source[d] in shard})
            packed |= shard
        v.expect(op, threw or packed == all_sources, "the job's packs miss a source")
    for op in ops:
        if op["op"] == "pack" and op["ok"] and op["cycle"] not in kept_by_job:
            v.fail(op, "pack ran without a checked dedup")
    con.close()
    return v.bad, (found / want if want else None)


def check_pack(v, con, op, kept):
    scored = op["out"]["scored"]
    ids = {int(r[0]) for r in scored}
    v.expect(op, ids == kept, "quality stage input is not the dedup output")
    cols = list(zip(*scored)) or [()] * 5
    con.register("scored", pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "source": pa.array(cols[1], pa.string()),
        "toks": pa.array(cols[2], pa.int64()),
        "quality": pa.array(cols[3], pa.float64()),
        "gopher_kept": pa.array(cols[4], pa.int64())}))
    bad = con.execute(f"""SELECT count(*) FROM scored s JOIN docs d USING (doc_id)
        WHERE s.toks <> CAST((length({NORM.replace('text', 'd.text')}) -
              length(replace({NORM.replace('text', 'd.text')}, ' ', '')) + 1) AS BIGINT)
           OR abs(s.quality - ({_quality_sql().replace('text', 'd.text')})) > 1e-9""").fetchone()[0]
    v.expect(op, bad == 0, "quality scores differ")
    want = con.execute(f"""WITH a AS (
          SELECT *, COALESCE(SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
          FROM scored WHERE gopher_kept = 1 AND quality >= {MIN_QUALITY}),
        q AS (SELECT doc_id, source, toks, doc_id % 8 AS bucket FROM a
              WHERE prior < {QUOTA}),
        p AS (SELECT *, COALESCE(SUM(toks) OVER (PARTITION BY bucket ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset FROM q)
        SELECT doc_id, source, toks, bucket, tok_offset,
          tok_offset // {SEQ_LEN}, (tok_offset + toks - 1) // {SEQ_LEN}
        FROM p ORDER BY doc_id""").fetchall()
    got = con.execute(f"""SELECT doc_id, source, n_tokens, bucket, tok_offset,
          seq_first, seq_last FROM read_parquet('{op['out']['packed']}/*.parquet')
        ORDER BY doc_id""").fetchall()
    norm = lambda rows: [tuple(int(x) if isinstance(x, (int, float)) and not  # noqa: E731
                               isinstance(x, bool) else x for x in r) for r in rows]
    v.expect(op, len(want) > 0 and norm(got) == norm(want),
             "quota or pack stage differs")


# -- ann ---------------------------------------------------------------------

RECALL_FLOOR = 0.8


def _vectors(con, paths):
    rows = con.execute("SELECT vec_id, embedding FROM read_parquet(?)",
                       [paths]).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    vecs = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, vecs


def check_ann(plan, run):
    v = Verdicts()
    con = duckdb.connect()
    base_ids, base = _vectors(con, [plan["base"]])
    admit = {}
    recalls = []
    for op in run["ops"]:
        if not op["ok"] or op["op"] != "query":
            continue
        out = op["out"]
        ids, vecs = [base_ids], [base]
        for j in out["admitted"]:
            if j not in admit:
                admit[j] = _vectors(con, [plan["admits"][j]])
            ids.append(admit[j][0])
            vecs.append(admit[j][1])
        ids, vecs = np.concatenate(ids), np.vstack(vecs)
        pids, probes = _vectors(con, [plan["probes"][out["probe_batch"]]])
        norms = np.linalg.norm(vecs, axis=1)
        got = {}
        for probe_id, nb, rank in out["result"]:
            got.setdefault(int(probe_id), []).append((int(rank), int(nb)))
        hit = 0
        for pid, p in zip(pids, probes):
            sims = vecs @ p / (norms * np.linalg.norm(p))
            truth = set(ids[np.argsort(-sims, kind="stable")[:10]].tolist())
            res = sorted(got.get(int(pid), []))
            if [r for r, _ in res] != list(range(1, 11)) or \
                    len({n for _, n in res}) != 10:
                v.fail(op, f"probe {pid} did not get 10 ranked neighbours")
                break
            hit += len(truth & {n for _, n in res})
        r = hit / (10 * len(pids))
        v.expect(op, r >= RECALL_FLOOR, f"recall@10 {r:.3f} below the floor")
        if not op["warmup"]:
            recalls.append(r)
    # the streamed code table against a numpy re-encode with the saved
    # model, for every index the run built
    for d in sorted(glob.glob(os.path.join(run["_dir"], "index*"))):
        cents = con.execute(f"SELECT cluster, centroid FROM read_parquet('{d}/model/ivf_centroids/*.parquet') ORDER BY cluster").fetchall()
        cbs = con.execute(f"SELECT sub, code, centroid FROM read_parquet('{d}/model/pq_codebooks/*.parquet') ORDER BY sub, code").fetchall()
        codes = con.execute(f"SELECT id, cluster, codes FROM read_parquet('{d}/codes/*.parquet') ORDER BY id").fetchall()
        files = sorted(glob.glob(os.path.join(d, "in", "*.parquet")))
        ids, vecs = _vectors(con, files)
        order = np.argsort(ids)
        ids, vecs = ids[order], vecs[order]
        ok = len(codes) == len(ids) and [c[0] for c in codes] == ids.tolist()
        if ok:
            cid = np.array([c[0] for c in cents])
            cm = np.array([c[1] for c in cents], dtype=np.float64)
            cos = (vecs @ cm.T) / (np.linalg.norm(vecs, axis=1)[:, None] *
                                   np.linalg.norm(cm, axis=1)[None, :])
            want_cluster = cid[np.argmax(cos, axis=1)]
            ok = sum(int(c[1]) != w for c, w in zip(codes, want_cluster)) <= len(ids) // 1000
            m = max(c[0] for c in cbs) + 1
            dsub = vecs.shape[1] // m
            mism = 0
            for s in range(m):
                book = np.array([c[2] for c in cbs if c[0] == s], dtype=np.float64)
                sub = vecs[:, s * dsub:(s + 1) * dsub]
                d2 = ((sub[:, None, :] - book[None, :, :]) ** 2).sum(axis=2)
                want_code = np.argmin(d2, axis=1)
                mism += int(sum(int(c[2][s]) != w for c, w in zip(codes, want_code)))
            ok = ok and mism <= len(ids) * m // 1000
        if not ok:
            for op in run["ops"]:
                if op["op"] == "admit":
                    v.fail(op, f"code table of {os.path.basename(d)} differs")
    con.close()
    return v.bad, (float(np.mean(recalls)) if recalls else None)


CHECKS = {"reportdb": check_reportdb, "corpus": check_corpus, "ann": check_ann}
