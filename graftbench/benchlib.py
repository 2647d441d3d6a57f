"""Arithmetic of the benchmark: percentiles, self time, workspace listings,
failure accounting, and the metrics derived from one run record.

Pure functions only; run.py does the I/O. Tested by tests/test_benchlib.py.
"""
import hashlib
import math
import os
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# The operation each workload times (for the sweep, a pass of its queries).
PRIMARY_OP = {
    "extract_skewed": "extract",
    "commit_incremental": "commit",
    "query_sweep": "query",
}


# ---------------------------------------------------------------- percentiles

def nearest_rank(sorted_values, p):
    """The p-th percentile by the nearest-rank rule (1-based rank ceil(p*n/100))."""
    n = len(sorted_values)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p * n / 100.0 - 1e-9))
    return sorted_values[rank - 1]


def tail_percentile(n, beyond=10):
    """Highest percentile of the ladder with at least `beyond` of `n` samples
    above its nearest rank; the median when none qualifies."""
    for p in TAIL_LADDER:
        if n - max(1, math.ceil(p * n / 100.0 - 1e-9)) >= beyond:
            return p
    return 50.0


def timing(samples):
    """Median, the tail percentile chosen by `tail_percentile`, its value and
    the sample count."""
    xs = sorted(samples)
    p, mid = tail_percentile(len(xs)), statistics.median(xs)
    return {"n": len(xs), "p50": mid, "tail_p": p,
            "tail": mid if p == 50.0 else nearest_rank(xs, p)}


# ------------------------------------------------------------------ intervals

def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(span, others):
    """Part of `span`'s interval covered by the intervals of `others`."""
    lo, hi = span["start_ms"], span["end_ms"]
    return union_length((max(lo, o["start_ms"]), min(hi, o["end_ms"])) for o in others)


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end_ms"] - span["start_ms"]) - covered(span, children)


class SpanIndex:
    def __init__(self, spans):
        self.by_id = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def descendants(self, span_id, kind=None):
        out, todo = [], list(self.children.get(span_id, []))
        while todo:
            s = todo.pop()
            if kind is None or s["kind"] == kind:
                out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def child(self, span_id, name):
        for s in self.children.get(span_id, []):
            if s["kind"] == "call" and s["name"] == name:
                return s
        return None


# ------------------------------------------------------------------ workspace

def list_tree(root):
    """{relative path: (kind, size, mtime_ns)} of everything under `root`,
    directories included, without following links."""
    root = os.path.abspath(root)
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            full = os.path.join(dirpath, name)
            st = os.lstat(full)
            kind = "d" if name in dirnames and not os.path.islink(full) else "f"
            out[os.path.relpath(full, root)] = (kind, 0 if kind == "d" else st.st_size,
                                                st.st_mtime_ns)
    st = os.lstat(root)
    out["."] = ("d", 0, st.st_mtime_ns)
    return out


def work_dir(root, configured, tmp):
    """The one directory a run writes: `configured` when given, else one
    under `tmp` named after the checkout. None when it would lie inside
    the checkout."""
    root = os.path.realpath(root)
    work = (os.path.realpath(configured) if configured
            else os.path.join(os.path.realpath(tmp), "graftbench-" + text_hash(root)))
    return None if os.path.commonpath([root, work]) == root else work


def diff_listing(before, after):
    """Sorted lines naming each path added, removed or changed."""
    lines = []
    for p in sorted(set(before) | set(after)):
        if p not in after:
            lines.append(f"removed {p}")
        elif p not in before:
            lines.append(f"added {p}")
        elif before[p] != after[p]:
            lines.append(f"changed {p}")
    return lines


def text_hash(text):
    return hashlib.sha256(text.encode()).hexdigest()[:12]


def tree_hash(root, rel_paths):
    """Content hash of the files under `rel_paths` (files or directories)."""
    h = hashlib.sha256()
    for rel in rel_paths:
        base = os.path.join(root, rel)
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
            h.update(b"\0")
    return h.hexdigest()[:16]


# ------------------------------------------------------------------- failures

def failures(ops):
    """(attempted, failed, one line per failure)."""
    bad = [o for o in ops if not o["ok"]]
    lines = [f'{o["kind"]} {o.get("name", "")}: {o.get("error") or o.get("check") or "check failed"}'
             for o in bad]
    return len(ops), len(bad), lines


def check_queries(ops, expected):
    """Marks each query_check op whose result disagrees with `expected`
    (digest for bit-stable queries; row count and schema otherwise)."""
    for o in ops:
        if o["kind"] != "query_check" or not o["ok"]:
            continue
        want = expected.get(o["name"])
        if want is None:
            o["ok"], o["check"] = False, "no expected result recorded"
        elif want.get("error"):
            o["ok"], o["check"] = False, f'failed on the seed code: {want["error"]}'
        elif want["stable"] and o["digest"] != want["digest"]:
            o["ok"], o["check"] = False, f'digest {o["digest"]} != {want["digest"]}'
        elif not want["stable"] and (o["rows"], o["schema"]) != (want["rows"], want["schema"]):
            o["ok"], o["check"] = False, f'rows/schema {o["rows"]} != {want["rows"]}'


def merge_expected(expected, ops):
    """Adds one run's query_check results to `expected`; a query whose digest
    differs between recordings is marked not bit-stable."""
    for o in ops:
        if o["kind"] != "query_check":
            continue
        rec = {"digest": o.get("digest"), "rows": o.get("rows"), "schema": o.get("schema"),
               "stable": True, "error": o.get("error")}
        old = expected.get(o["name"])
        if old is not None:
            rec["stable"] = old["stable"] and old["digest"] == rec["digest"]
        expected[o["name"]] = rec
    return expected


# -------------------------------------------------------------------- metrics

def _ms(ops, kind):
    return [o["ms"] for o in ops if o["kind"] == kind and o["timed"] and o["ok"]]


def primary_samples(rec):
    """Wall times (ms) of the workload's timed operation: one extraction
    job, one commit, or one pass of the sweep (the sum of its queries)."""
    kind = PRIMARY_OP[rec["workload"]]
    if kind != "query":
        return _ms(rec["ops"], kind)
    passes = {}
    for o in rec["ops"]:
        if o["kind"] == "query" and o["timed"] and o["ok"]:
            passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["ms"]
    return [v for _, v in sorted(passes.items())]


def query_samples(rec):
    """Each timed query's median wall time (ms) over the sweep's passes."""
    per = {}
    for o in rec["ops"]:
        if o["kind"] == "query" and o["timed"] and o["ok"]:
            per.setdefault(o["name"], []).append(o["ms"])
    return [statistics.median(v) for _, v in sorted(per.items())]


E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "work_per_s": "1/s", "peak_rss_mb": "MB"}


def setup_seconds(rec):
    return (rec["setup_end_ms"] - rec["launch_ms"] - rec["excluded_ms"]) / 1000.0


def end_to_end(rec):
    """The end-to-end metrics every workload reports, plus the workload's own
    named figures (`detail`)."""
    w = rec["workload"]
    ops = rec["ops"]
    t = timing(primary_samples(rec))
    if w == "extract_skewed":
        work = rec["values"]["turns"] / (t["p50"] / 1000.0)
    elif w == "commit_incremental":
        commits = [o for o in ops if o["kind"] == "commit" and o["timed"] and o["ok"]]
        work = sum(o["turns"] for o in commits) / (sum(o["ms"] for o in commits) / 1000.0)
    else:
        work = len(query_samples(rec)) / (t["p50"] / 1000.0)
    values = {"setup_s": setup_seconds(rec), "op_p50_ms": t["p50"], "work_per_s": work,
              "peak_rss_mb": rec["vm_hwm_kb"] / 1024.0}
    return {k: (v, E2E_UNITS[k]) for k, v in values.items()}, detail(rec, t, work)


def detail(rec, t, work):
    """The workload's own end-to-end figures, each with its unit
    and, for timings, the sample count and the tail percentile used."""
    w = rec["workload"]
    attempted, failed, _ = failures(rec["ops"])
    out = {"setup_s": {"value": setup_seconds(rec), "unit": "s"},
           "peak_rss_mb": {"value": rec["vm_hwm_kb"] / 1024.0, "unit": "MB"},
           "failed_ratio": {"value": failed / max(1, attempted), "unit": "ratio",
                            "attempted": attempted}}

    def tm(prefix, tt):
        p = tt["tail_p"]
        out[f"{prefix}_p50_ms"] = {"value": tt["p50"], "unit": "ms", "n": tt["n"]}
        out[f"{prefix}_p{p:g}_ms"] = {"value": tt["tail"], "unit": "ms", "n": tt["n"]}

    if w == "extract_skewed":
        out["extract_turns_per_s"] = {"value": work, "unit": "turns/s", "n": t["n"],
                                      "cores": rec["cores"]}
        if "turns_quarter" in rec["values"]:
            out[f"scaling_eff_1_{rec['cores']}"] = {"value": scaling_efficiency(rec),
                                                    "unit": "ratio"}
    elif w == "commit_incremental":
        tm("commit", t)
        tm("lookup", timing(_ms(rec["ops"], "lookup")))
        out["stored_bytes_per_input_byte"] = {
            "value": rec["values"]["stored_bytes_per_input_byte"], "unit": "ratio"}
    else:
        out["sweep_s"] = {"value": t["p50"] / 1000.0, "unit": "s", "passes": t["n"]}
        tm("query", timing(query_samples(rec)))
    return out


def scaling_efficiency(rec):
    """turns/s at local[cores] / (cores x turns/s at local[1] on a quarter
    of the conversations)."""
    v = rec["values"]
    hi = v["turns"] / (statistics.median(_ms(rec["ops"], "extract")) / 1000.0)
    lo = v["turns_quarter"] / (statistics.median(_ms(rec["ops"], "extract_1")) / 1000.0)
    return hi / (rec["cores"] * lo)


PER_LAYER_UNITS = {
    "fsm.turns_per_s_1thread": "turns/s",
    "extract.scan_s": "s",
    "extract.exchange_sort_s": "s",
    "extract.fsm_s": "s",
    "extract.skew_prepass_s": "s",
    "extract.fsm_task_max_over_median": "ratio",
    "extract.shuffle_write_bytes": "bytes",
    "extract.spill_bytes": "bytes",
    "extract.gc_s": "s",
    "extract.task_busy_ratio_1": "ratio",
    "extract.task_busy_ratio_n": "ratio",
    "extract.scaling_eff": "ratio",
    "commit.jobs": "count",
    "commit.job_s": "s",
    "commit.driver_s": "s",
    "commit.files_in_version": "count",
    "commit.stored_bytes_per_input_byte": "ratio",
    "lookup.p50_ms": "ms",
    "lookup.tail_ms": "ms",
    "lookup.files_read_ratio": "ratio",
    "lookup.jobs": "count",
    "sweep.build_s": "s",
    "sweep.plan_s": "s",
    "sweep.exec_s": "s",
    "sweep.driver_s": "s",
    "sweep.jobs_build": "count",
    "sweep.jobs_exec": "count",
    "sweep.tasks": "count",
    "sweep.task_busy_ratio": "ratio",
    "sweep.shuffle_bytes": "bytes",
    "sweep.spill_bytes": "bytes",
    "engine.codegen_compiles": "count",
    "engine.codegen_s": "s",
    "jvm.gc_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _dur(s):
    return s["end_ms"] - s["start_ms"]


def _stage_sum(stages, key):
    return sum(s["attrs"].get(key, 0) for s in stages)


def sampling_ms(ix, span_id):
    """Time of the range-bound sampling jobs under `span_id`: the jobs
    before the last one that write no shuffle."""
    jobs = sorted(ix.descendants(span_id, "job"), key=lambda j: j["end_ms"])
    return sum(_dur(j) for j in jobs[:-1]
               if _stage_sum(ix.descendants(j["id"], "stage"), "shuffle_write_bytes") == 0)


def overhead_base(entries, workload, build_key):
    """Median `op_p50_ms` of the last ten correct untraced runs of
    `workload` and of this build among `entries` ({"info", "result"} lines
    of the results file), or None."""
    vals = []
    for d in entries:
        info, res = d["info"], d["result"]
        cfg = info.get("config", {})
        if (info["workload"] == workload and not info["traced"] and not cfg.get("record")
                and cfg.get("build") == build_key and res["correct"]):
            vals.append(res["metrics"]["op_p50_ms"]["value"])
    return statistics.median(vals[-10:]) if vals else None


def per_layer(traced, untraced_op_p50):
    """Per-layer metrics of a traced run. `untraced_op_p50` is the median
    operation time of untraced runs of the same workload and build, the
    base of the tracing overhead. Metrics of a layer the workload does not exercise
    are 0."""
    w = traced["workload"]
    ix = SpanIndex(traced["spans"])
    ops = [o for o in traced["ops"] if o["ok"]]
    vals = traced["values"]
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    m["fsm.turns_per_s_1thread"] = vals["fsm_turns_per_s_1thread"]
    m["engine.codegen_compiles"] = vals["codegen_compiles"]
    m["engine.codegen_s"] = vals["codegen_ms"] / 1000.0
    m["jvm.gc_s"] = vals["jvm_gc_ms"] / 1000.0
    m["trace.overhead_ratio"] = statistics.median(primary_samples(traced)) / untraced_op_p50 - 1.0

    def timed(kind):
        return [o for o in ops if o["kind"] == kind and o["timed"]]

    def busy(kind, cores):
        os_ = timed(kind)
        run = sum(_stage_sum(ix.descendants(o["span"], "stage"), "run_ms") for o in os_)
        return run / (sum(o["ms"] for o in os_) * cores)

    if w == "extract_skewed":
        ext = timed("extract")
        # the probes run the skew path's plan up to the FSM; its range-bound
        # sampling is counted in the pre-pass, so it is taken out of the probe
        scan = statistics.median(o["ms"] for o in ops if o["kind"] == "probe_scan")
        sort = statistics.median(o["ms"] - sampling_ms(ix, o["span"])
                                 for o in ops if o["kind"] == "probe_exchange_sort")
        pre, skew, shuffle, spill, gc = [], [], [], [], []
        for o in ext:
            build = ix.child(o["span"], "build")
            exe = ix.child(o["span"], "exec")
            pre.append(_dur(build) + sampling_ms(ix, exe["id"]))
            stages = ix.descendants(o["span"], "stage")
            fsm_stage = max((s for s in stages if s["attrs"].get("shuffle_read_bytes", 0) > 0),
                            key=lambda s: s["attrs"].get("run_ms", 0), default=None)
            if fsm_stage and fsm_stage["attrs"].get("task_median_ms"):
                skew.append(fsm_stage["attrs"]["task_max_ms"] / fsm_stage["attrs"]["task_median_ms"])
            shuffle.append(_stage_sum(stages, "shuffle_write_bytes"))
            spill.append(_stage_sum(stages, "spill_bytes"))
            gc.append(_stage_sum(stages, "gc_ms") / 1000.0)
        full = statistics.median(o["ms"] for o in ext)
        m["extract.scan_s"] = scan / 1000.0
        m["extract.exchange_sort_s"] = (sort - scan) / 1000.0
        m["extract.skew_prepass_s"] = statistics.median(pre) / 1000.0
        m["extract.fsm_s"] = (full - sort - statistics.median(pre)) / 1000.0
        m["extract.fsm_task_max_over_median"] = statistics.median(skew) if skew else 0.0
        m["extract.shuffle_write_bytes"] = statistics.median(shuffle)
        m["extract.spill_bytes"] = statistics.median(spill)
        m["extract.gc_s"] = statistics.median(gc)
        m["extract.task_busy_ratio_n"] = busy("extract", traced["cores"])
        m["extract.task_busy_ratio_1"] = busy("extract_1", 1)
        m["extract.scaling_eff"] = scaling_efficiency(traced)
    elif w == "commit_incremental":
        commits = timed("commit")
        jobs_of = [ix.descendants(o["span"], "job") for o in commits]
        job_ms = [covered(ix.by_id[o["span"]], js) for o, js in zip(commits, jobs_of)]
        m["commit.jobs"] = statistics.mean(len(js) for js in jobs_of)
        m["commit.job_s"] = statistics.median(job_ms) / 1000.0
        m["commit.driver_s"] = statistics.median(
            self_time(ix.by_id[o["span"]], js) for o, js in zip(commits, jobs_of)) / 1000.0
        m["commit.files_in_version"] = commits[-1]["files_in_version"]
        m["commit.stored_bytes_per_input_byte"] = vals["stored_bytes_per_input_byte"]
        looks = timed("lookup")
        m["lookup.files_read_ratio"] = statistics.mean(
            o["files_read"] / max(1, o["files_in_version"]) for o in looks)
        m["lookup.jobs"] = statistics.mean(len(ix.descendants(o["span"], "job")) for o in looks)
        lt = timing(_ms(traced["ops"], "lookup"))
        m["lookup.p50_ms"], m["lookup.tail_ms"] = lt["p50"], lt["tail"]
    else:
        qs = timed("query")
        passes = max(1, len(qs) / max(1, len({o["name"] for o in qs})))
        tot = {k: 0.0 for k in ("build", "plan", "exec", "driver", "jb", "je", "tasks", "run",
                                "shuffle", "spill", "wall")}
        for o in qs:
            span = ix.by_id[o["span"]]
            for phase in ("build", "plan", "exec"):
                c = ix.child(o["span"], phase)
                if c:
                    tot[phase] += _dur(c)
            jobs = ix.descendants(o["span"], "job")
            stages = ix.descendants(o["span"], "stage")
            tot["driver"] += self_time(span, jobs)
            b = ix.child(o["span"], "build")
            tot["jb"] += len(ix.descendants(b["id"], "job")) if b else 0
            e = ix.child(o["span"], "exec")
            tot["je"] += len(ix.descendants(e["id"], "job")) if e else 0
            tot["tasks"] += _stage_sum(stages, "tasks")
            tot["run"] += _stage_sum(stages, "run_ms")
            tot["shuffle"] += _stage_sum(stages, "shuffle_write_bytes")
            tot["spill"] += _stage_sum(stages, "spill_bytes")
            tot["wall"] += o["ms"]
        m["sweep.build_s"] = tot["build"] / passes / 1000.0
        m["sweep.plan_s"] = tot["plan"] / passes / 1000.0
        m["sweep.exec_s"] = tot["exec"] / passes / 1000.0
        m["sweep.driver_s"] = tot["driver"] / passes / 1000.0
        m["sweep.jobs_build"] = tot["jb"] / passes
        m["sweep.jobs_exec"] = tot["je"] / passes
        m["sweep.tasks"] = tot["tasks"] / passes
        m["sweep.task_busy_ratio"] = tot["run"] / (tot["wall"] * traced["cores"])
        m["sweep.shuffle_bytes"] = tot["shuffle"] / passes
        m["sweep.spill_bytes"] = tot["spill"] / passes
    return {k: (v, PER_LAYER_UNITS[k]) for k, v in m.items()}


def query_detail(traced):
    """Per-query build / plan / execute times and job counts of a traced sweep."""
    ix = SpanIndex(traced["spans"])
    out = {}
    for o in traced["ops"]:
        if o["kind"] != "query" or not o["ok"] or not o["timed"]:
            continue
        row = {"ms": o["ms"]}
        for phase in ("build", "plan", "exec"):
            c = ix.child(o["span"], phase)
            row[f"{phase}_ms"] = _dur(c) if c else 0.0
            row[f"{phase}_jobs"] = len(ix.descendants(c["id"], "job")) if c else 0
        out.setdefault(o["name"], []).append(row)
    return out
