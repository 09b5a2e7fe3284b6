"""Seeded input generator for the graft benchmark.

Every workload's inputs are a pure function of (workload, seed): the same
seed writes byte-identical files, a different seed different ones. The
generator also writes `expect.json`, the answers the correctness checks
compare against. Those answers come from the generator's own arrays
(numpy) and from DuckDB over the same files, never from graft.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import gzip
import io
import json
import os
import re
import sys
import zlib

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Sizes are fixed by the benchmark definition (not by the seed), so the
# same work is measured on every seed.
ETL = dict(orders=15_000, files=8, suppliers=500, parts=4_000)
NEARDUP = dict(arrivals=8, fresh=60, dup_within=10, dup_earlier=10,
               vocab=40_000, words=(45, 70))
LAKE = dict(initial=10_000, users=400, cycles=6, append_rows=400,
            merge_rows=200)
PAGERANK_ITERS = 3
DAMPING = 0.85


def rng_for(seed, salt):
    return np.random.Generator(np.random.PCG64([seed, salt]))


def write_parquet(table, path):
    # pinned writer options keep the bytes a function of the data only
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, version="2.6",
                   data_page_version="1.0", store_schema=False)


def gzip_bytes(raw):
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", compresslevel=6, mtime=0) as g:
        g.write(raw)
    return buf.getvalue()


def csv_bytes(table, delimiter):
    sink = io.BytesIO()
    pacsv.write_csv(table, sink, pacsv.WriteOptions(
        include_header=True, delimiter=delimiter, quoting_style="none"))
    return sink.getvalue()


def days_to_iso(days):
    return np.datetime_as_string(
        np.datetime64("1992-01-01") + days.astype("timedelta64[D]"), unit="D")


# --------------------------------------------------------------------------
# etl_roundtrip


def gen_etl(seed, out):
    r = rng_for(seed, 1)
    n_o = ETL["orders"]
    okey = np.arange(1, n_o + 1, dtype=np.int64) * 4 + (seed % 4)
    lines = r.integers(1, 8, n_o)  # 1..7 lines per order, like TPC-H
    n_l = int(lines.sum())
    l_orderkey = np.repeat(okey, lines)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int64)
    l_partkey = r.integers(1, ETL["parts"] + 1, n_l).astype(np.int64)
    l_suppkey = r.integers(1, ETL["suppliers"] + 1, n_l).astype(np.int64)
    l_quantity = r.integers(1, 51, n_l).astype(np.int64)
    price_cents = r.integers(90_000, 10_500_000, n_l).astype(np.int64)
    disc = r.integers(0, 11, n_l).astype(np.int64)  # hundredths
    tax = r.integers(0, 9, n_l).astype(np.int64)
    flags = np.array(["A", "N", "R"])[r.integers(0, 3, n_l)]
    status = np.array(["O", "F"])[r.integers(0, 2, n_l)]
    ship = r.integers(0, 2_400, n_l)
    modes = np.array(["AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB", "REG AIR"])
    l_shipmode = modes[r.integers(0, len(modes), n_l)]
    comment_words = np.array(["carefully", "final", "deposits", "sleep", "quickly",
                              "ironic", "requests", "haggle", "furiously", "bold"])
    cw = comment_words[r.integers(0, len(comment_words), (n_l, 3))]
    l_comment = np.char.add(np.char.add(np.char.add(cw[:, 0], " "),
                                        np.char.add(cw[:, 1], " ")), cw[:, 2])
    hund = lambda h: np.char.add("0.", np.char.zfill(h.astype(str), 2))
    li = pa.table({
        "l_orderkey": l_orderkey, "l_partkey": l_partkey, "l_suppkey": l_suppkey,
        "l_linenumber": l_linenumber, "l_quantity": l_quantity,
        "l_extendedprice": [f"{c // 100}.{c % 100:02d}" for c in price_cents.tolist()],
        "l_discount": hund(disc), "l_tax": hund(tax),
        "l_returnflag": flags, "l_linestatus": status,
        "l_shipdate": days_to_iso(ship), "l_commitdate": days_to_iso(ship + 30),
        "l_shipmode": l_shipmode, "l_comment": l_comment,
    })
    os.makedirs(f"{out}/lineitem_csv")
    per = -(-n_l // ETL["files"])
    csv_total = 0
    for i in range(ETL["files"]):
        part = li.slice(i * per, per)
        data = gzip_bytes(csv_bytes(part, "|"))
        csv_total += len(data)
        with open(f"{out}/lineitem_csv/part-{i:02d}.csv.gz", "wb") as f:
            f.write(data)

    # orders: an all-string frame handed to Insert.insertDataFrame
    o_date = r.integers(0, 2_400, n_o)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    o_prio = prios[r.integers(0, 5, n_o)]
    o_total = r.integers(100_000, 50_000_000, n_o).astype(np.int64)
    orders = pa.table({
        "o_orderkey": okey.astype(str),
        "o_custkey": r.integers(1, 15_000, n_o).astype(str),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_o)],
        "o_totalprice": [f"{c // 100}.{c % 100:02d}" for c in o_total.tolist()],
        "o_orderdate": days_to_iso(o_date),
        "o_orderpriority": o_prio,
        "o_shippriority": np.zeros(n_o, dtype=np.int64).astype(str),
        "o_comment": np.char.add("order ", okey.astype(str)),
    })
    write_parquet(orders, f"{out}/orders.parquet")

    # ---- expectations, from the arrays and from DuckDB over the files
    expect = {"lineitem_rows": n_l, "orders_rows": n_o, "csv_bytes": csv_total,
              "orders_bytes": os.path.getsize(f"{out}/orders.parquet")}
    expect["lineitem_types"] = {
        "l_orderkey": "bigint", "l_partkey": "bigint", "l_suppkey": "bigint",
        "l_linenumber": "bigint", "l_quantity": "bigint", "l_extendedprice": "double",
        "l_discount": "double", "l_tax": "double", "l_returnflag": "string",
        "l_linestatus": "string", "l_shipdate": "date", "l_commitdate": "date",
        "l_shipmode": "string", "l_comment": "string"}
    expect["orders_types"] = {
        "o_orderkey": "bigint", "o_custkey": "bigint", "o_orderstatus": "string",
        "o_totalprice": "double", "o_orderdate": "date", "o_orderpriority": "string",
        "o_shippriority": "bigint", "o_comment": "string"}
    expect["lineitem_sums"] = {
        "l_orderkey": int(l_orderkey.sum()), "l_partkey": int(l_partkey.sum()),
        "l_suppkey": int(l_suppkey.sum()), "l_linenumber": int(l_linenumber.sum()),
        "l_quantity": int(l_quantity.sum()),
        "l_extendedprice": int(price_cents.sum()) / 100.0,
        "l_discount": int(disc.sum()) / 100.0, "l_tax": int(tax.sum()) / 100.0}
    expect["orders_sums"] = {
        "o_orderkey": int(okey.sum()), "o_totalprice": int(o_total.sum()) / 100.0}

    con = duckdb.connect()
    # parsed once; every query below reads the table
    con.execute(f"""CREATE TABLE lineitem AS SELECT * FROM read_csv(
        '{out}/lineitem_csv/*.csv.gz', delim='|', header=true, all_varchar=true)""")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{out}/orders.parquet')")
    q = lambda sql: [list(row) for row in con.execute(sql).fetchall()]
    expect["queries"] = {
        "agg": q("""SELECT l_returnflag, l_linestatus, count(*)::BIGINT,
              sum(l_quantity::BIGINT)::BIGINT,
              sum((replace(l_extendedprice, '.', ''))::BIGINT)::BIGINT
            FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),
        "join": q("""SELECT o_orderpriority, count(*)::BIGINT,
              sum(l_quantity::BIGINT)::BIGINT
            FROM lineitem JOIN orders ON l_orderkey::BIGINT = o_orderkey::BIGINT
            WHERE o_orderdate < '1995-01-01' GROUP BY 1 ORDER BY 1"""),
        "topk": q("""SELECT l_suppkey::BIGINT, sum(l_quantity::BIGINT)::BIGINT q
            FROM lineitem GROUP BY 1 ORDER BY q DESC, 1 LIMIT 10"""),
        "scan": q("""SELECT count(*)::BIGINT, sum(l_quantity::BIGINT)::BIGINT
            FROM lineitem WHERE l_shipdate BETWEEN '1995-01-01' AND '1995-06-30'
              AND l_discount::DOUBLE >= 0.05"""),
        "lines": q("""SELECT l_linenumber::BIGINT, count(*)::BIGINT FROM lineitem
            GROUP BY 1 ORDER BY 1"""),
    }
    unload = q("""SELECT l_orderkey::BIGINT, l_linenumber::BIGINT,
            l_quantity::BIGINT FROM lineitem WHERE l_shipmode = 'AIR'""")
    expect["unload"] = {"rows": len(unload),
                        "checksum": line_checksum("|".join(map(str, row)) for row in unload)}

    # graph: distinct (supplier -> part) edges, ids shifted apart
    mask = (l_orderkey % 16) == (seed % 16)
    edges = np.unique(np.stack([l_suppkey[mask], l_partkey[mask] + 1_000_000], 1), axis=0)
    expect["pagerank"] = pagerank_summary(edges)
    qty = l_quantity
    expect["describe_quantity"] = {"n": n_l, "min": int(qty.min()), "max": int(qty.max()),
                                   "mean": float(qty.mean())}
    return expect


def line_checksum(lines):
    """Order-independent checksum of text lines: sum of CRC-32s mod 2^63."""
    return sum(zlib.crc32(s.encode()) for s in lines) % (1 << 63)


def pagerank_summary(edges):
    """Uniform-restart PageRank, dangling mass dropped:
    r' = (1 - d) + d * sum_{u -> v} r(u) / outdeg(u), r0 = 1."""
    nodes, inv = np.unique(edges.reshape(-1), return_inverse=True)
    src, dst = inv.reshape(-1, 2).T
    outdeg = np.bincount(src, minlength=len(nodes)).astype(float)
    r = np.ones(len(nodes))
    for _ in range(PAGERANK_ITERS):
        mass = np.bincount(dst, weights=r[src] / outdeg[src], minlength=len(nodes))
        r = (1 - DAMPING) + DAMPING * mass
    top = np.argsort(-r, kind="stable")[:5]
    return {"nodes": int(len(nodes)), "rank_sum": float(r.sum()),
            "top": [[int(nodes[i]), float(r[i])] for i in top]}


# --------------------------------------------------------------------------
# neardup_ingest

_WS = re.compile(r"\s+")


def shingles(text, n=5):
    norm = _WS.sub(" ", text.strip().lower())
    return {norm[i:i + n] for i in range(max(1, len(norm) - n + 1))}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def gen_neardup(seed, out):
    r = rng_for(seed, 2)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = set()
    while len(vocab) < NEARDUP["vocab"]:
        k = int(r.integers(4, 10))
        vocab.add("".join(letters[r.integers(0, 26, k)]))
    vocab = sorted(vocab)
    vocab_arr = np.array(vocab)

    def fresh_doc():
        n = int(r.integers(*NEARDUP["words"]))
        return list(vocab_arr[r.integers(0, len(vocab_arr), n)])

    def near_dup(words):
        w = list(words)
        pos = int(r.integers(0, len(w)))
        w[pos] = vocab[int(r.integers(0, len(vocab)))]
        return w

    os.makedirs(f"{out}/arrivals")
    next_id = 1
    originals = []  # (id, words) of every fresh doc so far
    accepted, total, files = [], 0, []
    families = {}  # doc id -> family id (its original's id)
    texts = {}
    for a in range(NEARDUP["arrivals"]):
        ids, docs = [], []
        batch_orig = []
        for _ in range(NEARDUP["fresh"]):
            w = fresh_doc()
            ids.append(next_id); docs.append(w); batch_orig.append((next_id, w))
            families[next_id] = next_id
            next_id += 1
        # near-dups always carry a LARGER id than their original, so the
        # keep-first rule drops the copy and keeps the original
        for _ in range(NEARDUP["dup_within"]):
            oid, w = batch_orig[int(r.integers(0, len(batch_orig)))]
            ids.append(next_id); docs.append(near_dup(w)); families[next_id] = oid
            next_id += 1
        if originals:
            for _ in range(NEARDUP["dup_earlier"]):
                oid, w = originals[int(r.integers(0, len(originals)))]
                ids.append(next_id); docs.append(near_dup(w)); families[next_id] = oid
                next_id += 1
        originals += batch_orig
        accepted += [i for i, _ in batch_orig]
        # the client looks up one fresh and one near-duplicate id per arrival
        lookups = [batch_orig[0][0], ids[NEARDUP["fresh"]]]
        order = r.permutation(len(ids))  # arrival order inside the file
        text = [" ".join(docs[i]) for i in order]
        for i in order:
            texts[ids[i]] = " ".join(docs[i])
        tbl = pa.table({"doc_id": pa.array([ids[i] for i in order], pa.int64()),
                        "text": pa.array(text, pa.string())})
        path = f"{out}/arrivals/arrival-{a:03d}.parquet"
        write_parquet(tbl, path)
        files.append({"path": os.path.basename(path), "docs": len(ids),
                      "bytes": os.path.getsize(path),
                      "accepted_so_far": len(accepted),
                      "accepted_sum_so_far": sum(accepted),
                      "lookup_ids": lookups, "lookup_hits": [1, 0]})
        total += len(ids)

    with open(f"{out}/lookups.tsv", "w") as f:
        f.writelines("\t".join(map(str, a["lookup_ids"])) + "\n" for a in files)

    # margins on both sides of the 0.8 threshold, checked on the text
    sh = {i: shingles(t) for i, t in texts.items()}
    dup_min = min(jaccard(sh[i], sh[families[i]]) for i in sh if families[i] != i)
    owner = {}
    cross_max = 0
    for i in sorted(sh):
        shared = {}
        for s in sh[i]:
            j = owner.setdefault(s, i)
            if j != i and families[j] != families[i]:
                shared[j] = shared.get(j, 0) + 1
        for j, c in shared.items():
            cross_max = max(cross_max, c / len(sh[i] | sh[j]))
    assert dup_min >= 0.9, f"near-dup Jaccard margin too small: {dup_min}"
    assert cross_max <= 0.3, f"unrelated docs too similar: {cross_max}"
    return {"arrivals": files, "docs_total": total,
            "accepted_ids_checksum": line_checksum(map(str, accepted)),
            "dup_jaccard_min": dup_min, "unrelated_jaccard_max": cross_max}


# --------------------------------------------------------------------------
# lakehouse_mixed

# One cycle of the mix, in a fixed order: the seed draws the rows, keys
# and users, not the order, because a merge or delete costs more the more
# appends came before it in the cycle, and a seeded order made the
# per-run figures move with the seed.
# The proportions are a choice, not measured from a real table: every op
# kind runs at least once a cycle, appends are most of the commits and
# point reads most of the reads (a table fed by ingest and served by key
# lookups). Another mix weighs the kinds differently in the class means.
A, P = "append", "point_read"
CYCLE = [A, P, P, A, P, P, "merge", P, P, A, P, P, "range_read", P, P, A, P, P,
         "delete", P, P, A, P, P, "view_sync", P, P, A, P, P]
OPTIMIZE_EVERY = 8  # commits between optimize calls: once per cycle
# cycle 0 is the client's warm-up: every op kind once
WARMUP = ["append", "merge", "delete", "point_read", "range_read", "optimize"]
EVENT_TYPES = ["click", "view", "buy", "share", "like"]
T0 = 1_600_000_000


def gen_lake(seed, out):
    r = rng_for(seed, 3)
    os.makedirs(f"{out}/rows")
    next_id = [1]

    def events(n):
        ids = np.arange(next_id[0], next_id[0] + n, dtype=np.int64)
        next_id[0] += n
        return pa.table({
            "event_id": ids,
            "user_id": r.integers(1, LAKE["users"] + 1, n).astype(np.int64),
            "ts": (T0 + ids * 10 + r.integers(0, 10, n)).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n)],
            "value": r.integers(0, 1_000, n).astype(np.int64),
        })

    write_parquet(events(LAKE["initial"]), f"{out}/rows/initial.parquet")
    ops, commits = [], 0
    for c in range(LAKE["cycles"]):
        for kind in WARMUP if c == 0 else CYCLE:
            op = {"cycle": c, "kind": kind}
            n_ids = next_id[0] - 1
            if kind == "append":
                op["file"] = f"op-{len(ops):05d}.parquet"
                write_parquet(events(LAKE["append_rows"]), f"{out}/rows/{op['file']}")
            elif kind == "merge":
                # half updates of existing ids, half inserts of new ones
                half = LAKE["merge_rows"] // 2
                upd = np.unique(r.integers(1, n_ids + 1, half)).astype(np.int64)
                new = events(half)
                t = pa.table({
                    "event_id": np.concatenate([upd, new["event_id"].to_numpy()]),
                    "user_id": np.concatenate([r.integers(1, LAKE["users"] + 1, len(upd)),
                                               new["user_id"].to_numpy()]).astype(np.int64),
                    "ts": np.concatenate([T0 + upd * 10, new["ts"].to_numpy()]).astype(np.int64),
                    "event_type": np.concatenate([
                        np.array(EVENT_TYPES)[r.integers(0, 5, len(upd))],
                        new["event_type"].to_numpy(zero_copy_only=False)]),
                    "value": np.concatenate([r.integers(1_000, 2_000, len(upd)),
                                             new["value"].to_numpy()]).astype(np.int64),
                })
                op["file"] = f"op-{len(ops):05d}.parquet"
                write_parquet(t, f"{out}/rows/{op['file']}")
            elif kind == "delete":
                op["user_id"] = int(r.integers(1, LAKE["users"] + 1))
            elif kind == "point_read":
                op["event_id"] = int(r.integers(1, n_ids + 1))
            elif kind == "range_read":
                lo = int(r.integers(1, n_ids + 1))
                op["lo"] = T0 + lo * 10
                op["hi"] = op["lo"] + 10 * int(r.integers(50, 2_000))
            if kind != "optimize":
                ops.append(op)
            if kind in ("append", "merge", "delete") and c > 0:
                commits += 1
            if kind == "optimize" or (kind in ("append", "merge", "delete") and c > 0
                                      and commits % OPTIMIZE_EVERY == 0):
                # optimize folds segments, so the view's change feed
                # must have read them first (AggView.syncFromLog contract)
                ops += [{"cycle": c, "kind": "view_sync"}, {"cycle": c, "kind": "optimize"}]
    cols = ["cycle", "kind", "file", "user_id", "event_id", "lo", "hi"]
    with open(f"{out}/ops.tsv", "w") as f:
        for op in ops:
            f.write("\t".join(str(op.get(c, "-")) for c in cols) + "\n")
    return {"ops": len(ops), "initial_rows": LAKE["initial"],
            "initial_bytes": os.path.getsize(f"{out}/rows/initial.parquet")}


def read_ops(out):
    cols = ["cycle", "kind", "file", "user_id", "event_id", "lo", "hi"]
    with open(f"{out}/ops.tsv") as f:
        rows = [dict(zip(cols, line.rstrip("\n").split("\t"))) for line in f]
    return [{k: (v if k in ("kind", "file") else int(v)) for k, v in r.items() if v != "-"}
            for r in rows]


def lake_model(out, n_ops):
    """Apply the first n_ops of the log to a dict model of the table and
    return (final rows, per-op read answers)."""
    ops = read_ops(out)[:n_ops]
    table = {}

    def load(name):
        t = pq.read_table(f"{out}/rows/{name}").to_pylist()
        return {row["event_id"]: row for row in t}

    table.update(load("initial.parquet"))
    answers = []
    for op in ops:
        k = op["kind"]
        ans = None
        if k in ("append", "merge"):
            table.update(load(op["file"]))
        elif k == "delete":
            table = {e: row for e, row in table.items() if row["user_id"] != op["user_id"]}
        elif k == "point_read":
            row = table.get(op["event_id"])
            ans = [] if row is None else [[row["event_id"], row["user_id"], row["ts"],
                                           row["event_type"], row["value"]]]
        elif k == "range_read":
            sel = [row for row in table.values() if op["lo"] <= row["ts"] <= op["hi"]]
            ans = [len(sel), sum(row["value"] for row in sel)]
        answers.append(ans)
    return table, answers


GENERATORS = {"etl_roundtrip": gen_etl, "neardup_ingest": gen_neardup,
              "lakehouse_mixed": gen_lake}


def generate(workload, seed, out):
    os.makedirs(out)
    expect = GENERATORS[workload](seed, out)
    with open(f"{out}/expect.json", "w") as f:
        json.dump(expect, f, sort_keys=True)
    return expect


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
