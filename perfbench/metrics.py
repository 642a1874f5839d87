"""Turns a raw run record (written by the JVM side, perfbench.Main) into
checked outputs and metrics. Pure functions over plain data, so the
self-tests can drive them without Spark."""

import math
import re
import statistics

import civicgen

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
# the query modules whose kernels heavy_kernels runs
FAMILIES = ["Dedup", "Graph", "Vector"]
# the civic write path's layers, as the spans around its calls name them
CIVIC_LAYERS = ["sources", "er", "geo", "warehouse", "streaming", "lookup"]
MB = 1024.0 * 1024.0

# (name, unit): what an untraced run reports
END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"),
]
# (name, unit): what a traced run reports
PER_LAYER = [
    ("query_p50_ms", "ms"), ("query_p90_ms", "ms"), ("query_tail_pct", "pct"),
    ("query_samples", "count"),
    ("lookup_p50_ms", "ms"), ("lookup_p90_ms", "ms"), ("peak_heap_mb", "MB"),
    ("ops_failed_frac", "ratio"),
    ("build_s", "s"), ("refresh_p50_ms", "ms"), ("refresh_p90_ms", "ms"),
    ("stored_mb", "MB"),
    ("queries.build_ms", "ms"), ("queries.eager_jobs", "count"),
    ("plan.planning_ms", "ms"), ("plan.executions", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.driver_gap_ms", "ms"), ("sched.core_busy_frac", "ratio"),
    ("sched.unattributed_jobs", "count"),
    ("task.cpu_s", "s"), ("task.gc_s", "s"), ("task.failed", "count"),
    ("shuffle.read_mb", "MB"), ("shuffle.write_mb", "MB"),
    ("spill.mem_mb", "MB"), ("spill.disk_mb", "MB"),
] + [(f"family.{f}.{m}", u) for f in FAMILIES
     for m, u in (("wall_s", "s"), ("task_cpu_s", "s"), ("jobs", "count"))] + [
    (f"layer.{layer}.task_cpu_s", "s") for layer in CIVIC_LAYERS] + [
    ("sources.areas_ms", "ms"), ("sources.people_ms", "ms"),
    ("sources.bills_ms", "ms"), ("er.votes_ms", "ms"),
    ("er.match_frac", "ratio"), ("er.precision", "ratio"),
    ("geo.edges_ms", "ms"), ("geo.edges", "count"),
    ("warehouse.ingest_ms", "ms"), ("warehouse.bytes_written_mb", "MB"),
    ("warehouse.write_amp", "ratio"), ("warehouse.files", "count"),
    ("streaming.merge_ms", "ms"),
    ("lookup.rows_read_per_result", "ratio"),
    ("trace.overhead_frac", "ratio"),
]


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def tail_percentile(n, candidates=(99, 95, 90, 75, 50)):
    """The highest percentile with at least 10 samples beyond it, or None."""
    for p in candidates:
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile."""
    xs = sorted(values)
    if not xs:
        return None
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def median(values):
    return statistics.median(values) if values else None


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    spans.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(op_start, op_end, job_intervals):
    """Operation time not covered by any running job."""
    return (op_end - op_start) - union_length(job_intervals, op_start, op_end)


def self_times(spans):
    """Span duration minus the duration of its direct children. A child is
    a span one level deeper whose interval lies inside the parent's."""
    out = []
    for i, s in enumerate(spans):
        kids = sum(c["dur_ms"] for j, c in enumerate(spans)
                   if j != i and c["depth"] == s["depth"] + 1
                   and s["t0"] <= c["t0"] and c["t1"] <= s["t1"])
        out.append(max(0.0, s["dur_ms"] - kids))
    return out


def spread(values):
    """Interquartile range as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def check_digests(digests, expected):
    """[(query, problem)] for every checked execution whose row count or
    digest differs from the expected file."""
    bad = []
    for got in digests:
        q = got["query"]
        want = expected.get(q)
        if want is None:
            bad.append((q, "no expected digest"))
        elif got["rows"] != want["rows"]:
            bad.append((q, f"rows {got['rows']} != {want['rows']}"))
        elif got["hash"] != want["hash"]:
            bad.append((q, f"digest {got['hash']} != {want['hash']}"))
    return bad


def check_voters(voters, truth_voters):
    """(votes checked, [(vote, problem)]) for every vote of the warehouse's
    roll calls whose resolved voter differs from the generator's truth (a
    name that matches nobody must stay unresolved), and every vote of
    those roll calls that is missing or not in the truth."""
    got = {key: voter_id or None for key, voter_id in voters}
    events = {key.rsplit("#", 1)[0] for key in got}
    bad = [(f"vote {key}", "not in the truth") for key in got
           if key not in truth_voters]
    checked = len(bad)
    for key, want in truth_voters.items():
        if key.rsplit("#", 1)[0] not in events:
            continue  # a roll call not (yet) in the warehouse
        checked += 1
        if key not in got:
            bad.append((f"vote {key}", "missing"))
        elif got[key] != want:
            bad.append((f"vote {key}", f"voter {got[key]} != {want}"))
    return checked, bad


def check_civic(record, truth):
    """(checks, [(what, problem)]) for lookups that differ from the
    generator's ground truth, warehouse tables whose key listing differs
    from the truth as of the last applied batch, and wrongly resolved
    voters. `checks` counts the table and voter checks (each lookup is
    already an operation)."""
    bad = []
    batches = truth["batches"]
    for lk in record.get("lookups", []):
        if lk["result"] is None:
            continue  # the failed operation is already counted
        spec = [x for x in batches[lk["batch"]]["lookups"]
                if x["kind"] == lk["kind"] and x["key"] == lk["key"]]
        if not spec or lk["result"] != spec[0]["expect"]:
            bad.append((f"lookup {lk['kind']} {lk['key']}", "differs from truth"))
    applied = record.get("batches_applied", 0)
    keys = record.get("keys", {})
    if applied < 1:
        return 0, bad
    tables = batches[applied - 1]["tables"]
    if "error" in keys:
        bad.append(("warehouse keys", keys["error"]))
    else:
        for table, want in tables.items():
            if civicgen.key_digest(keys.get(table, [])) != want:
                bad.append((f"table {table}", "keys differ from truth"))
    if record.get("voters_error"):
        return len(tables) + 1, bad + [("voters", record["voters_error"])]
    checked, wrong = check_voters(record.get("voters", []), truth["voters"])
    return len(tables) + max(1, checked), bad + wrong


def er_quality(voters, truth_voters):
    """(match_frac, precision) of resolved voter ids against the truth."""
    matched = correct = 0
    for key, voter_id in voters:
        if voter_id and voter_id.startswith("ocd-person/"):
            matched += 1
            correct += truth_voters.get(key) == voter_id
    n = len(voters)
    return (matched / n if n else 0.0, correct / matched if matched else 0.0)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _steady(record, traced):
    """Timed units other than the civic build, traced or not."""
    return [u for u in record["units"]
            if u["traced"] == traced and u["kind"] != "build"]


def end_to_end(record):
    """wall_s and cpu_s cover the timed phase from input to complete
    result: the civic build (if any) plus the median steady unit."""
    units = _steady(record, False)
    build = [u for u in record["units"] if u["kind"] == "build"]
    return {
        "setup_s": record["setup_s"],
        "wall_s": (sum(u["wall_ms"] for u in build) +
                   median([u["wall_ms"] for u in units])) / 1e3,
        "cpu_s": (sum(u["cpu_ns"] for u in build) +
                  median([u["cpu_ns"] for u in units])) / 1e9,
    }


def _owner(intervals, t):
    """Index of the interval holding time t (intervals sorted, disjoint)."""
    for i, (a, b, _) in enumerate(intervals):
        if a <= t <= b:
            return i
    return None


LAYER_SPANS = {"queries.build": "queries.build_ms",
               "sources.areas": "sources.areas_ms",
               "sources.people": "sources.people_ms",
               "sources.bills": "sources.bills_ms",
               "er.votes": "er.votes_ms", "geo.edges": "geo.edges_ms",
               "warehouse.ingest": "warehouse.ingest_ms",
               "streaming.merge": "streaming.merge_ms"}
BUILD_LAYERS = {"sources.areas_ms", "sources.people_ms", "sources.bills_ms",
                "er.votes_ms", "geo.edges_ms"}


def per_layer(record, truth=None, incoming_bytes=0):
    """Per-layer metrics, each a mean per traced unit (query pass or civic
    batch). The civic source, entity-resolution and spatial-join layers
    are taken from the traced build instead, since they move build_s."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    ops, units = record["ops"], record["units"]
    traced = _steady(record, True)
    builds = [u for u in units if u["kind"] == "build" and u["traced"]]
    n = float(len(traced)) or 1.0
    cores = record["cores"]

    def durations(kind):
        return [o["dur_ms"] for o in ops if o["kind"] == kind and o["ok"]]
    queries, lookups = durations("query"), durations("lookup")
    m["query_p50_ms"] = median(queries) or 0.0
    m["query_tail_pct"] = float(tail_percentile(len(queries)) or 0)
    m["query_samples"] = float(len(queries))
    m["query_p90_ms"] = percentile(queries, 90) or 0.0
    m["lookup_p50_ms"] = median(lookups) or 0.0
    m["lookup_p90_ms"] = percentile(lookups, 90) or 0.0
    m["peak_heap_mb"] = record["heap_peak_bytes"] / MB
    refreshes = durations("refresh")
    m["build_s"] = (median(durations("build")) or 0.0) / 1e3
    m["refresh_p50_ms"] = median(refreshes) or 0.0
    m["refresh_p90_ms"] = percentile(refreshes, 90) or 0.0
    storage = record.get("storage", {})
    m["stored_mb"] = storage.get("bytes", 0) / MB
    m["warehouse.files"] = float(storage.get("files", 0))
    all_traced = [u for u in units if u["traced"]]
    wall_ns = sum(u["wall_ms"] for u in all_traced) * 1e6
    if wall_ns:
        m["trace.overhead_frac"] = sum(u["trace"]["self_ns"] for u in all_traced) / wall_ns

    spans = record["spans"]
    selfs = self_times(spans)
    for u in builds:
        for s, st in zip(spans, selfs):
            key = LAYER_SPANS.get(s["name"])
            if key in BUILD_LAYERS and u["t0"] <= s["t0"] and s["t1"] <= u["t1"]:
                m[key] += st / len(builds)
    read_rows = read_results = 0
    for u in traced:
        tr = u["trace"]
        uops = sorted([(o["t0"], o["t1"], o) for o in ops if o["unit"] == u["index"]],
                      key=lambda x: x[0])
        builds_in = []
        inner = []  # (t0, t1, depth, layer) of the unit's spans
        for s, st in zip(spans, selfs):
            if not (u["t0"] <= s["t0"] and s["t1"] <= u["t1"]):
                continue
            inner.append((s["t0"], s["t1"], s["depth"], s["layer"]))
            if s["name"] == "queries.build":
                builds_in.append((s["t0"], s["t1"]))
            key = LAYER_SPANS.get(s["name"])
            if key and key not in BUILD_LAYERS:
                m[key] += st / n
        stage_by_id = {s["id"]: s for s in tr["stages"]}
        job_intervals = {i: [] for i in range(len(uops))}
        seen_stages = set()
        for j in tr["jobs"]:
            i = _owner(uops, j["t0"])
            if i is None:
                continue
            o = uops[i][2]
            fam = o["family"] if o["family"] in FAMILIES else None
            # the innermost benchmark span open when the job started
            holders = [x for x in inner if x[0] <= j["t0"] <= x[1]]
            layer = max(holders, key=lambda x: x[2])[3] if holders else None
            layer = layer if layer in CIVIC_LAYERS else None
            job_intervals[i].append((j["t0"], j.get("t1", uops[i][1])))
            m["sched.jobs"] += 1 / n
            if j["op"] is None:
                m["sched.unattributed_jobs"] += 1 / n
            if any(a <= j["t0"] <= b for a, b in builds_in):
                m["queries.eager_jobs"] += 1 / n
            if fam:
                m[f"family.{fam}.jobs"] += 1 / n
            for sid in j["stages"]:
                st = stage_by_id.get(sid)
                if st is None or sid in seen_stages or st["tasks"] == 0:
                    continue
                seen_stages.add(sid)
                m["sched.stages"] += 1 / n
                m["sched.tasks"] += st["tasks"] / n
                m["task.failed"] += st["failed"] / n
                m["task.cpu_s"] += st["cpu_ns"] / 1e9 / n
                m["task.gc_s"] += st["gc_ms"] / 1e3 / n
                m["shuffle.read_mb"] += st["shuffle_read"] / MB / n
                m["shuffle.write_mb"] += st["shuffle_write"] / MB / n
                m["spill.mem_mb"] += st["spill_mem"] / MB / n
                m["spill.disk_mb"] += st["spill_disk"] / MB / n
                m["warehouse.bytes_written_mb"] += st["bytes_out"] / MB / n
                m["sched.core_busy_frac"] += st["run_ms"] / (u["wall_ms"] * cores) / n
                if fam:
                    m[f"family.{fam}.task_cpu_s"] += st["cpu_ns"] / 1e9 / n
                if layer:
                    m[f"layer.{layer}.task_cpu_s"] += st["cpu_ns"] / 1e9 / n
                if o["kind"] == "lookup":
                    read_rows += st["records_in"]
        for i, (a, b, o) in enumerate(uops):
            m["sched.driver_gap_ms"] += driver_gap(a, b, job_intervals[i]) / n
            if o["family"] in FAMILIES:
                m[f"family.{o['family']}.wall_s"] += o["dur_ms"] / 1e3 / n
        for e in tr["executions"]:
            if _owner(uops, e["t0"]) is not None:
                m["plan.planning_ms"] += e["planning_ms"] / n
                m["plan.executions"] += 1 / n
        read_results += sum(len(lk["result"]) for lk in record.get("lookups", [])
                            if lk["unit"] == u["index"] and lk["result"] is not None)
    if read_results:
        m["lookup.rows_read_per_result"] = read_rows / read_results
    if incoming_bytes:
        m["warehouse.write_amp"] = m["warehouse.bytes_written_mb"] * MB / incoming_bytes
    if truth is not None:
        m["er.match_frac"], m["er.precision"] = er_quality(
            record.get("voters", []), truth["voters"])
        m["geo.edges"] = float(len(record.get("keys", {}).get("person_area_edges", [])))
    return m


def result_line(correct, attempted, failed, values, units):
    return {"correct": bool(correct), "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                        for k in units}}
