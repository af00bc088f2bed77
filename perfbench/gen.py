"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from the seed:
the parquet tables (the schemas and value ranges of the project's
TPC-H-like test data plus its `events`, `documents` and `embeddings`
tables), the monitor population of `monitor_loop`, the request stream
and the seeded `job_data` table of `api_edge`, and the query list of
`query_suite`. The same seed always gives the same inputs.
"""
import datetime as dt
import json
import os
import urllib.parse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
_WORDS = ("a the big small fast slow data row column table key value join "
          "group sort merge hash scan filter agg window stream batch spark "
          "query part line order customer vector").split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_UTC = dt.timezone.utc


def _epoch_us(t):
    return int(t.replace(tzinfo=_UTC).timestamp() * 1_000_000)


def _dates(rng, n, lo, hi):
    """n midnight timestamps (µs) uniform over the days [lo, hi]."""
    d0, d1 = _epoch_us(dt.datetime(*lo)), _epoch_us(dt.datetime(*hi))
    return d0 + rng.integers(0, (d1 - d0) // 86_400_000_000 + 1, n) * 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tables(seed, sf, out_dir, names=ALL_TABLES):
    """Write the named base tables at scale factor `sf` into `out_dir`.

    Each table draws from its own random stream, so a subset comes out
    the same as it does in a full set.
    """
    os.makedirs(out_dir, exist_ok=True)
    n = lambda base, floor=1: max(floor, int(round(base * sf)))
    n_cust, n_part, n_supp = n(150_000), n(200_000), n(10_000)
    n_ord, n_li = n(1_500_000), n(6_000_000)

    def region(rng):
        return {"r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}

    def nation(rng):
        return {"n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}

    def money(rng, lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def customer(rng):
        return {"c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                            "HOUSEHOLD", "MACHINERY"], n_cust)}

    def supplier(rng):
        return {"s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}

    def part(rng):
        adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
        noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
        return {"p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                           zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                      "STANDARD"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}

    def orders(rng):
        return {"o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(rng, 1000, 500000, n_ord),
                "o_orderdate": _ts(_dates(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
                "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                               "4-NOT SPECIFIED", "5-LOW"], n_ord)}

    def lineitem(rng):
        return {"l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": money(rng, 900, 105000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _ts(_dates(rng, n_li, (1995, 1, 2), (2001, 11, 4)))}

    def events(rng):
        k = n(1_000_000)
        lo = _epoch_us(EVENTS_START)
        return {"event_id": np.arange(k, dtype="int64"),
                "ts": _ts(np.sort(rng.integers(lo, lo + EVENTS_DAYS * 86_400_000_000, k))),
                "user_id": rng.integers(0, n(15_000), k),
                "event_type": rng.choice(EVENT_TYPES, k),
                "value": np.round(rng.exponential(50.0, k), 2),
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]}

    def documents(rng):
        k = n(50_000, 500)
        texts = []
        for i in range(k):
            r = rng.random()
            if i > 10 and r < 0.05:  # near-duplicate of an earlier document
                words = texts[rng.integers(0, i)].split()
                words[rng.integers(0, len(words))] = "dup"
                texts.append(" ".join(words))
            elif i > 10 and r < 0.052:  # exact duplicate
                texts.append(texts[rng.integers(0, i)])
            else:
                texts.append(" ".join(rng.choice(_WORDS, rng.integers(10, 101))))
        return {"doc_id": np.arange(k, dtype="int64"), "text": texts,
                "lang": rng.choice(_LANGS, k, p=_LANG_P),
                "source": [f"src{i % 20}" for i in range(k)],
                "n_chars": np.array([len(t) for t in texts], dtype="int64")}

    def embeddings(rng):
        k = n(20_000, 500)
        vec = rng.standard_normal((k, 64)).astype("float32")
        vec /= np.linalg.norm(vec, axis=1, keepdims=True)
        return {"vec_id": np.arange(k, dtype="int64"),
                "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, k), pa.int32())}

    builders = locals()
    for name in names:
        rng = np.random.default_rng([seed, 1, ALL_TABLES.index(name)])
        pq.write_table(pa.table(builders[name](rng)), f"{out_dir}/{name}.parquet")


# -- monitor population --------------------------------------------------

_FORMS = [
    lambda r, a, b: f"events.{a}",
    lambda r, a, b: "events.*",
    lambda r, a, b: f"events.{{{a},{b}}}",
    lambda r, a, b: f'summarize(events.{a}, "{r.choice(["5min", "15min", "1h"])}", "sum")',
    lambda r, a, b: f"movingAverage(events.{a}, {r.integers(2, 10)})",
    lambda r, a, b: "sumSeries(events.*)",
    lambda r, a, b: f"derivative(events.{a})",
    lambda r, a, b: f'timeShift(events.{a}, "{r.choice(["1h", "1d"])}")',
    lambda r, a, b: f"scale(events.{{{a},{b}}}, {r.integers(2, 5)})",
    lambda r, a, b: f"nonNegativeDerivative(events.{a})",
    lambda r, a, b: f"highestAverage(events.*, {r.integers(1, 4)})",
    lambda r, a, b: f'hitcount(events.{a}, "{r.choice(["5min", "10min"])}")',
    lambda r, a, b: f"keepLastValue(events.{a})",
    lambda r, a, b: f"averageSeries(events.{{{a},{b}}})",
]


def _target(rng, form):
    """A TargetLang target of the given form over seeded event types."""
    a, b = rng.choice(EVENT_TYPES, 2, replace=False)
    return _FORMS[form % len(_FORMS)](rng, a, b)


def _stratified(rng, i, n, lo, hi):
    """The i-th of n values spread evenly over [lo, hi), jittered."""
    return int(lo + (hi - lo) * (i + rng.random()) / n)


def _condition(rng, fail):
    """A monitor expression over real reductions whose verdict is fixed.

    `count >= 0` holds for every series and `count < 0` for none, so the
    share of failing runs does not depend on the seeded data; the second
    clause still makes the engine compute another reduction. `count` also
    sorts first among the reductions, so it is the value a verdict
    reports as observed, which the `monitor_loop` check compares with the
    number of values in the run's chart.
    """
    red = rng.choice(["mean", "max", "min", "sum", "median", "stddev", "last", "p95"])
    op = rng.choice([">", "<"])
    clause = f"{red} {op} {int(rng.integers(1, 400))}"
    return f"count < 0 && {clause}" if fail else f"count >= 0 || {clause}"


_CHANNELS = ["mailto:ops@example.com", "pagerduty:SVCKEY", "campfire:oncall", "log:"]


def monitors(seed, n_cohort, n_hourly):
    """The `monitor_loop` population and the virtual clock's start.

    `n_cohort` monitors share `*/5 * * * *`, so their ticks take the
    shared-scan batch path; each has two targets, and together they use
    every target form once (with 7 monitors), so a cohort costs about the
    same whatever the seed. `n_hourly` monitors run hourly, each at its
    own minute that is not a multiple of 5, so each of their ticks takes
    the per-job pool path alone; the form, window and verdict of an
    hourly monitor follow its minute. All but two cohort monitors fail
    and one in four hourly ones, about half of all runs. A failing
    monitor pages on every failing run (its error_timeout is no longer
    than its period), except one cohort monitor that keeps the default
    60 minutes, so the throttle also suppresses pages. Each monitor has
    one alert key. The seed draws event types, windows within their
    strata, reductions, thresholds, timeouts, channels and the start.
    """
    rng = np.random.default_rng([seed, 2])
    minutes = [m for m in range(60) if m % 5][:n_hourly]
    forms = rng.permutation(len(_FORMS))
    specs = []
    for i in range(n_cohort):
        fail = i >= 2
        specs.append({
            "cronExpr": "*/5 * * * *",
            "targets": [_target(rng, forms[2 * i]), _target(rng, forms[2 * i + 1])],
            "minutes": _stratified(rng, i, n_cohort, 15, 241),
            "monitorExpr": _condition(rng, fail),
            "errorTimeoutMinutes": 60 if i == 2 else int(rng.integers(1, 6)),
        })
    for m in minutes:
        specs.append({
            "cronExpr": f"{m} * * * *",
            "targets": [_target(rng, 3 * m)],
            "minutes": _stratified(rng, m % 12, 12, 15, 241),
            "monitorExpr": _condition(rng, m % 4 == 1),
            "errorTimeoutMinutes": int(rng.integers(1, 61)),
        })
    for i, s in enumerate(specs):
        s.update(id=i + 1, name=f"m{i + 1}",
                 alertKeys=[_CHANNELS[int(rng.integers(0, len(_CHANNELS)))]])
    # the loop starts on the hour, with at least 4 days of history behind
    start = EVENTS_START + dt.timedelta(hours=int(rng.integers(4 * 24, (EVENTS_DAYS - 2) * 24)))
    return {"start": start.strftime("%Y-%m-%dT%H:%M:%SZ"), "monitors": specs}


# -- API request stream --------------------------------------------------

def _stamp(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _path(route, **params):
    return route + ("?" + urllib.parse.urlencode(params) if params else "")


MIX = [("evaluate", 0.60), ("render", 0.25), ("backtest", 0.10), ("latest", 0.05)]


def api_requests(seed, sizes, length, job_ids):
    """The `api_edge` load: a pool of distinct requests and the seeded
    order in which the clients send them.

    `sizes` gives the number of distinct requests of each kind: POST
    /api/evaluate, GET /api/render over 1-6 h, POST /api/backtest over
    1-3 days and GET /api/jobs/latest. Windows are spread evenly over
    their ranges and target forms cycle, so pools of different seeds cost
    about the same. The sequence repeats blocks of 20 requests that hold
    the kinds in the proportions of `MIX`, in seeded order, each naming a
    pool member of its kind in turn; requests repeat as they do when
    users re-test a monitor or re-render a chart. Specs carry one target,
    so each response has one row per series.
    """
    rng = np.random.default_rng([seed, 3])
    kinds = [k for k, _ in MIX for _ in range(sizes[k])]
    forms = rng.permutation(len(_FORMS))
    pool = []
    for j, kind in enumerate(kinds):
        i = kinds.index(kind)
        i = j - i  # position among the pool members of this kind
        now = EVENTS_START + dt.timedelta(
            minutes=int(rng.integers(4 * 1440, EVENTS_DAYS * 1440 - 60)))
        spec = {"id": int(rng.choice(job_ids)), "targets": [_target(rng, forms[j])],
                "minutes": _stratified(rng, i, sizes[kind], 15, 241),
                "monitorExpr": _condition(rng, i % 2 == 1)}
        if kind == "evaluate":
            pool.append(["POST", _path("/api/evaluate", now=_stamp(now)), json.dumps(spec)])
        elif kind == "render":
            frm = now - dt.timedelta(minutes=_stratified(rng, i, sizes[kind], 60, 361))
            pool.append(["GET", _path("/api/render", target=_target(rng, forms[j]), **{
                "from": _stamp(frm), "until": _stamp(now)}), ""])
        elif kind == "backtest":
            frm = now - dt.timedelta(minutes=_stratified(rng, i, sizes[kind], 1440, 4321))
            pool.append(["POST", _path("/api/backtest", step="60", **{
                "from": _stamp(frm), "until": _stamp(now)}), json.dumps(spec)])
        else:
            pool.append(["GET", "/api/jobs/latest", ""])
    members = {k: [j for j, kk in enumerate(kinds) if kk == k] for k, _ in MIX}
    block = []
    for kind, share in MIX:
        block += [kind] * round(share * 20)
    seq, turn = [], {k: 0 for k, _ in MIX}
    while len(seq) < length:
        for kind in rng.permutation(block):
            seq.append(members[kind][turn[kind] % sizes[kind]])
            turn[kind] += 1
    return {"pool": pool, "sequence": seq[:length]}


def job_data(seed, out_dir, jobs, runs_per_job):
    """A `job_data` table in the layout `Runner.persistRun` writes: one
    directory per job and one parquet file per run, each row a window end,
    a status and a JSON chart payload."""
    rng = np.random.default_rng([seed, 4])
    for j in range(1, jobs + 1):
        d = f"{out_dir}/job_id={j}"
        os.makedirs(d, exist_ok=True)
        end0 = EVENTS_START + dt.timedelta(days=10, minutes=int(rng.integers(0, 600)))
        for r in range(runs_per_job):
            end = end0 + dt.timedelta(minutes=5 * r)
            pts = int(rng.integers(5, 60))
            chart = [{"metric": f"events.{rng.choice(EVENT_TYPES)}", "points": [
                {"ts": _stamp(end - dt.timedelta(minutes=pts - p)),
                 "value": round(float(rng.exponential(50.0)), 2)} for p in range(pts)]}]
            pq.write_table(pa.table({
                "window_end": pa.array([_epoch_us(end)], pa.timestamp("us", tz="UTC")),
                "status": [str(rng.choice(["success", "failed"]))],
                "data": [json.dumps(chart)]}), f"{d}/part-{r:05d}.parquet")


# -- query_suite ---------------------------------------------------------

# A fixed slice of the registry, kept small because a run's set-up (the
# first pass, which compiles every plan in a fresh JVM) costs about 1.5 s
# a query: seven of the series queries and six graft.ext ones, among them
# x84, whose run-to-run variance is an open question, and x7b, which
# reads the stored IVF fixture. The seed orders the slice; the data it
# reads is seeded too.
SUITE = [
    "p1_window_clip", "p6_backtest_sweep", "j1_region_revenue", "a5_percentile_daily",
    "w7_rank_series", "t8_json_extract", "j3b_asof_join",
    "x1_dedup_exact", "x5_embedding_neardups", "x8_langid", "x10_token_count",
    "x84_hard_negatives", "x7b_sim_topk_ivf",
]
SUITE_FIXTURES = {"ivfIndex": ["x7b_sim_topk_ivf"]}


def suite(seed):
    rng = np.random.default_rng([seed, 5])
    return {"queries": [SUITE[i] for i in rng.permutation(len(SUITE))],
            "fixtures": SUITE_FIXTURES}
