"""Pure helpers of the benchmark: seeded inputs, percentiles, span
arithmetic, output checks and the metric tables. run.py drives them;
test_lib.py tests them; layerdiff.py reuses the per-layer table.
"""
import hashlib
import json
import math
import os
import statistics
import urllib.parse

import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# ---------------------------------------------------------------- inputs


def stage_inputs(src_dir, dst_dir, seed):
    """Copy every fixture table with its rows in a seeded order. Row
    order carries no meaning, so every answer must stay the same."""
    import pyarrow.parquet as pq
    os.makedirs(dst_dir, exist_ok=True)
    for i, t in enumerate(TABLES):
        table = pq.read_table(os.path.join(src_dir, f"{t}.parquet"))
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(table.take(perm), os.path.join(dst_dir, f"{t}.parquet"),
                       version="2.6", compression="snappy")


# The gateway's routes: the benchmark's own config, over the fixture.
ROUTES = {
    "cust_by_key":
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        "FROM customer WHERE c_custkey = ?",
    "lines_by_order":
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
        "l_extendedprice FROM lineitem WHERE l_orderkey = ? "
        "ORDER BY l_linenumber",
    "cust_page":
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "WHERE c_custkey > ? ORDER BY c_custkey LIMIT 20",
    "orders_big":
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_orderstatus = ? AND o_totalprice > $minp "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 50",
    "segment_nation":
        "SELECT c.c_mktsegment, n.n_name, count(*) AS n_cust, "
        "max(c.c_acctbal) AS max_bal FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE c.c_mktsegment = ? GROUP BY c.c_mktsegment, n.n_name "
        "ORDER BY n.n_name",
}
DB = "bench"
TEMPLATES = list(ROUTES)
# "catalog" is GET /, "unknown" an unknown-query error route
EXTRAS = ["catalog", "unknown"]
STATUSES = ["F", "O", "P"]
MIN_PRICES = [400000, 450000, 480000]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
# Phase A: OPEN_ROUNDS rounds of requests arriving at OPEN_RATE per
# second on average, each gap drawn uniformly from [0.5, 1.5] mean gaps,
# so burstiness stays alike from seed to seed. About half the
# closed-loop capacity measured on a 4-core host (~2.5 req/s from 2
# clients); no request waited for a client thread in three runs checked,
# so the median is service time, not queueing.
OPEN_RATE = 1.25
OPEN_ROUNDS = 4
# The warm-up (timed into cold_s) and phase B's work list, in rounds (a round is
# each template route once): about eight warm-up and eight phase-B
# requests per client on a 4-core host (2 clients). Warm requests kept
# getting faster for a minute as the JIT compiled more of the planner,
# so the warm-up is as long as phase B; phase B lasts several seconds.
WARMUP_ROUNDS = 3
CLOSED_ROUNDS = 3


def gateway_config():
    return json.dumps({"databases": [
        {"name": DB, "type": "spark", "queries": ROUTES}]}, indent=1)


def make_request(rid, kind, rng, n_cust, n_orders):
    """One request: its URL, and for template routes the route path and
    `$var`s Router.dispatch takes plus the positional args."""
    vars_ = {}
    if kind == "catalog":
        return {"id": rid, "kind": kind, "url": "/", "path": "/",
                "vars": {}, "args": [], "template": False}
    if kind == "unknown":
        path = f"/q/{DB}/no_such_query_{int(rng.integers(1000))}"
        return {"id": rid, "kind": kind, "url": path, "path": path,
                "vars": {}, "args": [], "template": False}
    if kind == "cust_by_key":
        args = [int(rng.integers(n_cust))]
    elif kind == "lines_by_order":
        args = [int(rng.integers(n_orders))]
    elif kind == "cust_page":
        args = [int(rng.integers(n_cust))]
    elif kind == "orders_big":
        args = [STATUSES[int(rng.integers(len(STATUSES)))]]
        vars_ = {"minp": str(MIN_PRICES[int(rng.integers(len(MIN_PRICES)))])}
    else:
        args = [SEGMENTS[int(rng.integers(len(SEGMENTS)))]]
    path = f"/q/{DB}/{kind}/" + "/".join(str(a) for a in args)
    url = path + ("?" + urllib.parse.urlencode(vars_) if vars_ else "")
    return {"id": rid, "kind": kind, "url": url, "path": path,
            "vars": vars_, "args": args, "template": True}


def mix(rounds, rng):
    """The request kinds of one list, in a seeded order. The mix is a
    stated rule, not a measured traffic mix: each template route once
    per round, plus one catalog hit and one unknown-query error per
    list. The seed moves the parameters and the order, not the mix."""
    kinds = TEMPLATES * rounds + EXTRAS
    return [kinds[i] for i in rng.permutation(len(kinds))]


def gateway_requests(seed, n_cust, n_orders):
    """The seeded request lists: a cold pass (one request per kind), an
    untimed warm-up, phase A's open-loop schedule and phase B's
    closed-loop work list."""
    rng = np.random.default_rng([seed, 7])
    rid = 0

    def draw(kind):
        nonlocal rid
        rid += 1
        return make_request(rid, kind, rng, n_cust, n_orders)

    cold = [draw(k) for k in TEMPLATES + EXTRAS]
    kinds = mix(OPEN_ROUNDS, rng)
    gaps = rng.uniform(0.5, 1.5, size=len(kinds)) / OPEN_RATE
    due = np.cumsum(gaps) - gaps[0]
    open_ = []
    for d, k in zip(due, kinds):
        r = draw(k)
        r["due_s"] = float(d)
        open_.append(r)
    warmup = [draw(k) for k in mix(WARMUP_ROUNDS, rng)]
    closed = [draw(k) for k in mix(CLOSED_ROUNDS, rng)]
    return {"cold": cold, "warmup": warmup, "open": open_, "closed": closed}


# ------------------------------------------------------------ host probe


def host_probe():
    """Best of three runs of a fixed in-memory job (sort 4M doubles, then
    multiply two 1000x1000 matrices on every core): its time depends on
    the host only. Timed outside the program's JVM, before and after it
    runs, so it neither warms the JVM nor counts in any metric; a slow
    probe marks a contended window rather than a slower program."""
    import time
    rng = np.random.default_rng(0)
    xs, m = rng.random(4_000_000), rng.random((1000, 1000))
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(xs)
        m @ m
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None where
    the file is absent. On a virtual machine steal is the time the
    hypervisor gave this machine's CPUs to other guests."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (xs[7] if len(xs) > 7 else 0), sum(xs)


def steal_frac(before, after):
    if before is None or after is None or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


# ------------------------------------------------------------ statistics


def _ten_beyond(n, q):
    # a small tolerance: 100 * (1 - 0.9) is 9.999999999999998 in floats
    return n * (1.0 - q) >= 10 - 1e-9


def percentile(xs, q):
    """Linear-interpolated q-quantile. Above the median it is refused
    unless at least ten samples lie beyond it, so a p90 needs 100."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if q > 0.5 and not _ten_beyond(n, q):
        raise ValueError(f"p{round(q * 100)} needs {round(10 / (1 - q))}"
                         f" samples, got {n}")
    pos = q * (n - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def self_times(spans):
    """Each span's duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ms"], s["end_ms"]
        ivs = sorted((max(c["start_ms"], start), min(c["end_ms"], end))
                     for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (end - start) - covered
    return out


def self_time_by_name(spans, phase=None):
    """Summed self time (ms) per span name."""
    st = self_times(spans)
    acc = {}
    for s in spans:
        if phase is None or s["phase"] == phase:
            acc[s["name"]] = acc.get(s["name"], 0.0) + st[s["id"]]
    return acc


# ------------------------------------------------------------ correctness


def canon_type(t):
    """Arrow type class, forgiving width variants inside a numeric class
    (the comparison rule of tools/check.py)."""
    import pyarrow as pa
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return "datetime"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(
            f"{f.name}:{canon_type(f.type)}" for f in t) + ">"
    if pa.types.is_dictionary(t):
        return canon_type(t.value_type)
    return str(t)


def compare_tables(got, exp):
    """None when two arrow tables agree as tools/check.py compares them
    (columns sorted by name, row order kept, floats exact); otherwise a
    one-line reason."""
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols or got.num_rows != exp.num_rows:
        return (f"shape got=({got.num_rows},{gcols}) "
                f"exp=({exp.num_rows},{ecols})")
    for c in gcols:
        gt, et = canon_type(got.schema.field(c).type), \
            canon_type(exp.schema.field(c).type)
        if gt != et:
            return f"type col={c} got={gt} exp={et}"
    g, e = got.to_pandas(), exp.to_pandas()
    for c in gcols:
        gc, ec = g[c], e[c]
        if str(gc.dtype).startswith("float") or str(ec.dtype).startswith("float"):
            same = (gc.astype(float).fillna(-1e308)
                    == ec.astype(float).fillna(-1e308)).all()
        else:
            same = (gc.astype(str).fillna("<n>")
                    == ec.astype(str).fillna("<n>")).all()
        if not same:
            neq = gc.astype(str) != ec.astype(str)
            i = neq[neq].index[0] if neq.any() else 0
            return f"value col={c} row={i} got={gc[i]!r} exp={ec[i]!r}"
    return None


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t + '.parquet')}'")
    return con


def fixture_id(data_dir):
    """Hash of every fixture table's bytes."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, t + ".parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def oracle_answer(con, sql, cache_dir, fixture):
    """DuckDB's answer to an oracle query, cached by the query's text and
    the `fixture_id` of the tables it ran on. The oracles order their
    rows totally, so the answer depends on the input rows and not on
    their order: one answer serves every seed."""
    import pyarrow.feather as feather
    key = hashlib.sha256(f"{fixture}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".arrow")
    if os.path.exists(path):
        return feather.read_table(path)
    table = con.sql(sql).arrow()
    os.makedirs(cache_dir, exist_ok=True)
    feather.write_feather(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    return table


def check_stages(base_dir, out_dir, oracles, stages, passes, cache_dir):
    """Compare each stage's output of every pass (`out_dir/<pass>`) with
    its DuckDB oracle over the unpermuted inputs in `base_dir`; a stage
    without one must give the first pass's output on every later pass.
    Returns {(stage, pass): reason} for every mismatch."""
    import pyarrow.dataset as ds
    con = duck(base_dir)
    fixture = fixture_id(base_dir)
    bad = {}

    def read(p, s):
        d = os.path.join(out_dir, p, s)
        if not os.path.isdir(d):
            return None
        return ds.dataset(d, format="parquet").to_table()

    for s in stages:
        outs = {p: read(p, s) for p in passes}
        if s in oracles:
            exp, note = oracle_answer(con, oracles[s], cache_dir, fixture), ""
        else:
            exp, note = outs[passes[0]], f"no oracle; differs from {passes[0]}: "
        for p, got in outs.items():
            if got is None:
                bad[(s, p)] = "no output"
            elif exp is not None and (s in oracles or p != passes[0]):
                why = compare_tables(got, exp)
                if why:
                    bad[(s, p)] = note + why
    return bad


def check_responses(data_dir, responses, requests):
    """Check every gateway response's envelope, and its rows against
    DuckDB's answer to the same bound SQL. Returns {id: reason}."""
    con = duck(data_dir)
    by_id = {r["id"]: r for rs in requests.values() for r in rs}
    expected = {}
    want_paths = sorted([f"/q/{DB}/{n}" for n in ROUTES] +
                        [f"/query/{n}" for n in ROUTES])
    bad = {}
    for resp in responses:
        req = by_id[resp["id"]]
        why = None
        if resp["error"] or resp["status"] != 200:
            why = f"status={resp['status']} error={resp['error']}"
        elif req["kind"] == "catalog":
            try:
                paths = sorted(r["path"] for r in json.loads(resp["body"])["get"])
                if paths != want_paths:
                    why = f"catalog paths {paths}"
            except (ValueError, KeyError, TypeError) as e:
                why = f"catalog body: {e}"
        elif req["kind"] == "unknown":
            name = req["path"].rsplit("/", 1)[1]
            want = json.dumps({"ok": False,
                               "error": f'Query "{name}" not found.'},
                              separators=(",", ":"))
            if resp["body"] != want:
                why = f"error envelope {resp['body'][:200]!r}"
        else:
            body = resp["body"]
            if not (body.startswith('{"results":[') and
                    body.endswith('],"ok":true}')):
                why = f"envelope {body[:200]!r}"
            else:
                key = req["url"]
                if key not in expected:
                    sql = ROUTES[req["kind"]]
                    for k, v in req["vars"].items():
                        sql = sql.replace("$" + k, v)
                    cur = con.execute(sql, req["args"])
                    cols = [d[0] for d in cur.description]
                    expected[key] = [dict(zip(cols, row))
                                     for row in cur.fetchall()]
                got = json.loads(body)["results"]
                if got != expected[key]:
                    why = (f"rows got={json.dumps(got)[:200]} "
                           f"exp={str(expected[key])[:200]}")
        if why:
            bad[resp["id"]] = f"{req['kind']} {req['url']}: {why}"
    return bad


# ---------------------------------------------------------------- metrics


def median(xs):
    return statistics.median(xs)


def end_to_end(result, bad, setups):
    """The end-to-end metrics of an untraced run from its raw record and
    its set-up times (wall clock, as a user sees it)."""
    m = {"setup_s": median(setups), "cold_s": result["cold_s"]}
    if result["workload"] == "gateway_lookup":
        rs = result["responses"]
        opened = [r for r in rs if r["phase"] == "open"]
        # a failed request keeps its measured latency here: it already
        # counts in `failed`, and any failure makes the run incorrect
        lat = [r["end_ms"] - r["due_ms"] for r in opened]
        ok = sum(1 for r in rs if r["phase"] == "closed" and r["id"] not in bad)
        m["warm_ms"] = percentile(lat, 0.5)
        m["capacity_per_s"] = ok / result["closed_s"]
    else:
        # each stage's best warm run, as graft.Bench takes a query's best
        # of three: a pass the JIT or a neighbour slowed does not count
        stages = result["stages"].values()
        best = sum(min(t["warm"]) for t in stages)
        m["warm_ms"] = best * 1e3
        # not measured apart from warm_ms: every workload must report
        # every end-to-end metric, and this one is the stage throughput
        # at that time
        m["capacity_per_s"] = len(result["stage_names"]) / best
    return m


def _sum(evs, key):
    return float(sum(e.get(key, 0) for e in evs))


def _snap(events, kind, at):
    for e in events:
        if e["kind"] == kind and e.get("at") == at:
            return e
    return {}


def per_layer(result, trace, stage_names):
    """Per-layer metrics of a traced run, charged to its traced timed
    phase and divided by the operations in it (a request or a pass)."""
    ev, spans = trace["events"], trace["spans"]
    gateway = result["workload"] == "gateway_lookup"
    phase = "open" if gateway else "warm"
    in_ph = [e for e in ev if e["phase"] == phase]
    if gateway:
        ops = max(1, sum(1 for r in result["responses"] if r["phase"] == phase))
    else:
        ops = 1
    m = {}

    def med(xs):
        return median(xs) if xs else 0.0

    # gateway layers, from the serial replay
    by = {}
    for s in spans:
        if s["phase"] == "replay":
            by.setdefault(s["name"], {})[s["ctx"]] = s["end_ms"] - s["start_ms"]
    http, disp, take = (by.get(k, {}) for k in
                        ("replay.http", "route.dispatch", "exec.take"))
    m["http.transport_ms"] = med([http[i] - disp[i] - take.get(i, 0.0)
                                  for i in http if i in disp])
    m["route.dispatch_p50_ms"] = med(list(disp.values()))
    m["tables.register_views_p50_ms"] = med(
        list(by.get("tables.register_views", {}).values()))
    if gateway:
        lat = {p: [r["end_ms"] - r["due_ms"] for r in result["responses"]
                   if r["phase"] == p] for p in ("open", "open_untraced")}
        m["trace_overhead_frac"] = (percentile(lat["open"], 0.5) /
                                    percentile(lat["open_untraced"], 0.5) - 1)
    else:
        m["trace_overhead_frac"] = result["trace_overhead_frac"]

    sql = [e for e in in_ph if e["kind"] == "sql"]
    m["plan.analysis_s"] = _sum(sql, "analysis_ms") / 1e3 / ops
    m["plan.optimization_s"] = _sum(sql, "optimization_ms") / 1e3 / ops
    m["plan.planning_s"] = _sum(sql, "planning_ms") / 1e3 / ops
    m["plan.queries"] = len(sql) / ops
    st = [e for e in in_ph if e["kind"] == "stage"]
    mb = 1048576.0
    m["exec.jobs"] = sum(1 for e in in_ph if e["kind"] == "job") / ops
    m["exec.stages"] = len(st) / ops
    m["exec.tasks"] = _sum(st, "tasks") / ops
    m["exec.task_run_s"] = _sum(st, "run_ms") / 1e3 / ops
    m["exec.task_cpu_s"] = _sum(st, "cpu_ns") / 1e9 / ops
    m["exec.gc_s"] = _sum(st, "gc_ms") / 1e3 / ops
    m["exec.input_mb"] = _sum(st, "input_b") / mb / ops
    m["exec.shuffle_write_mb"] = _sum(st, "shuffle_write_b") / mb / ops
    m["exec.shuffle_read_mb"] = _sum(st, "shuffle_read_b") / mb / ops
    m["exec.spill_mb"] = _sum(st, "spill_b") / mb / ops
    m["exec.output_mb"] = _sum(st, "output_b") / mb / ops
    for k in ("scan_ms", "agg_ms", "sort_ms", "shuffle_write_ms",
              "broadcast_build_ms", "rows_out"):
        m["op." + k] = _sum(sql, k) / ops

    start, end = _snap(ev, "memo", "start"), _snap(ev, "memo", "end")
    evictions = end.get("evicted", 0) - start.get("evicted", 0)
    m["memo.entries_built"] = float(
        end.get("resident", 0) - start.get("resident", 0) + evictions)
    m["memo.resident_mb"] = end.get("resident_b", 0) / mb
    m["memo.evictions"] = float(evictions)

    stages = result.get("stages", {})
    for s in stage_names:
        t = stages.get(s, {})
        m[f"stage.{s}.cold_s"] = t.get("cold", [0.0])[0]
        m[f"stage.{s}.warm_s"] = med(t.get("warm", []))

    sp = [e for e in in_ph if e["kind"] == "stream_progress"]
    m["stream.batches"] = len(sp) / ops
    for k in ("trigger_ms", "add_batch_ms", "get_batch_ms", "planning_ms",
              "wal_commit_ms", "commit_offsets_ms", "state_rows",
              "state_commit_ms"):
        m["stream." + k] = _sum(sp, k) / ops
    replay_ms = sum(s["end_ms"] - s["start_ms"] for s in spans
                    if s["phase"] == phase and s["name"] == "stage"
                    and s["ctx"].startswith("e_stream_"))
    m["stream.fixed_s"] = ((replay_ms - _sum(sp, "trigger_ms")) / 1e3 / ops
                           if sp else 0.0)

    j0 = _snap(ev, "jvm", phase + "_start")
    j1 = _snap(ev, "jvm", phase + "_end")
    m["jvm.heap_peak_mb"] = j1.get("heap_peak_mb", 0.0)
    m["jvm.gc_s"] = (j1.get("gc_ms", 0) - j0.get("gc_ms", 0)) / 1e3 / ops
    m["peak_rss_mb"] = result["peak_rss_mb"]
    return m
