"""Correctness checks: what the program returned, against answers the
generator computed without graft. Each check returns a list of
mismatch descriptions; an empty list means the run is correct."""
import math

import gen

REL_TOL = 1e-9  # floating sums: Spark and numpy add in different orders


def close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=REL_TOL)
    return a == b


def rows_equal(got, want):
    return (got is not None and len(got) == len(want) and
            all(len(g) == len(w) and all(close(x, y) for x, y in zip(g, w))
                for g, w in zip(got, want)))


def check(workload, record, expect, inp):
    return {"etl_roundtrip": check_etl, "neardup_ingest": check_neardup,
            "lakehouse_mixed": check_lake}[workload](record["observed"], expect, inp)


def check_etl(obs, expect, inp):
    bad = []
    for tbl, rows_key, types_key, sums_key in (
            ("lineitem", "lineitem_rows", "lineitem_types", "lineitem_sums"),
            ("orders", "orders_rows", "orders_types", "orders_sums")):
        got = obs[tbl]
        if got["rows"] != expect[rows_key]:
            bad.append(f"{tbl} rows {got['rows']} != {expect[rows_key]}")
        if got["types"] != expect[types_key]:
            bad.append(f"{tbl} inferred types {got['types']} != {expect[types_key]}")
        for col, want in expect[sums_key].items():
            if not close(got["sums"].get(col), want):
                bad.append(f"{tbl}.{col} sum {got['sums'].get(col)} != {want}")
    for r in obs["per_round"]:
        q = dict(r["queries"])
        want = expect["queries"]
        want = dict(want, agg=[row[:4] + [row[4] / 100] for row in want["agg"]])
        for name, got in (("agg", q["agg"]), ("join", q["join"]), ("topk", q["topk"]),
                          ("scan", q["scan"]), ("lines", q["lines"])):
            if not rows_equal(got, want[name]):
                bad.append(f"round {r['round']} query {name}: {got} != {want[name]}")
        pr, want_pr = r["pagerank"], expect["pagerank"]
        if (pr is None or pr["nodes"] != want_pr["nodes"]
                or not math.isclose(pr["rank_sum"], want_pr["rank_sum"], rel_tol=1e-9)
                or not all(math.isclose(a, b[1], rel_tol=1e-9)
                           for a, b in zip(pr["top"], want_pr["top"]))):
            bad.append(f"round {r['round']} pagerank {pr} != {want_pr}")
        d, want_d = r["describe"], expect["describe_quantity"]
        if (d is None or d[0][1] != want_d["n"] or d[0][3] != want_d["min"]
                or d[0][4] != want_d["max"] or not math.isclose(d[0][5], want_d["mean"],
                                                                rel_tol=1e-9)):
            bad.append(f"round {r['round']} describe {d} != {want_d}")
    with open(obs["export_file"]) as f:
        header, *lines = f.read().splitlines()
    if header != "l_orderkey|l_linenumber|l_quantity":
        bad.append(f"export header {header!r}")
    if len(lines) != expect["unload"]["rows"]:
        bad.append(f"export rows {len(lines)} != {expect['unload']['rows']}")
    if gen.line_checksum(lines) != expect["unload"]["checksum"]:
        bad.append("export checksum differs from the query's rows")
    return bad


def check_neardup(obs, expect, inp):
    bad = []
    arrivals = expect["arrivals"]
    for b in obs["batches"]:
        want = arrivals[b["arrival"]]
        if b["ingested"] != want["docs"]:
            bad.append(f"{b['episode']} arrival {b['arrival']}: ingested "
                       f"{b['ingested']} != {want['docs']}")
        if b["lookups"] != want["lookup_hits"]:
            bad.append(f"{b['episode']} arrival {b['arrival']}: lookups of "
                       f"{want['lookup_ids']} found {b['lookups']} != {want['lookup_hits']}")
        got = b["corpus"] and list(b["corpus"])
        if got != [want["accepted_so_far"], want["accepted_sum_so_far"]]:
            bad.append(f"{b['episode']} arrival {b['arrival']}: accepted (count, id sum) "
                       f"{got} != {[want['accepted_so_far'], want['accepted_sum_so_far']]}")
    timed = [b for b in obs["batches"] if b["round"] >= 0]
    if len(timed) != obs["arrivals_per_episode"]:
        bad.append(f"{len(timed)} measured arrivals, {obs['arrivals_per_episode']} planned")
    return bad


def check_lake(obs, expect, inp):
    bad = []
    table, answers = gen.lake_model(inp, obs["ops_done"])
    for r in obs["reads"]:
        want = answers[r["op"]]
        got = r["rows"] if r["kind"] == "range_read" or r["rows"] is None \
            else [list(x) for x in r["rows"]]
        if got != want:
            bad.append(f"op {r['op']}: read {r['rows']} != model {want}")
    with open(obs["final_table"]) as f:
        got = sorted(tuple(line.split("\t")) for line in f.read().splitlines())
    want = sorted(tuple(str(row[c]) for c in ("event_id", "user_id", "ts", "event_type", "value"))
                  for row in table.values())
    if got != want:
        bad.append(f"final table differs from the model: {len(got)} rows vs {len(want)}")
    view = {}
    for row in table.values():
        n, s = view.get(row["event_type"], (0, 0))
        view[row["event_type"]] = (n + 1, s + row["value"])
    want_view = [[k, n, s] for k, (n, s) in sorted(view.items())]
    if [list(v) for v in obs["view"]] != want_view:
        bad.append(f"view {obs['view']} != model {want_view}")
    return bad
