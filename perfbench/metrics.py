"""Turns one run's raw result (samples, values, Spark counters per tag, spans)
into the benchmark's named metrics.

Every end-to-end metric is defined on every workload:

  completion_s the time the workload's closed-loop unit of work takes, the
               median over the repetitions of one run after the first:
      ingest: a catch-up round, from the moment a 100-block backlog appears
              until all three plugs have committed it;
      suite:  the sum of the query walls, each query's median timed pass.
  setup_s      process start to the first timed operation.
  mem_peak_mb  the live heap (in use right after full collections) at the
               end of the timed phases, when the run holds the most state.

No tail percentile is reported: one needs at least ten independent samples
beyond it, more than a run has.
"""

import json
import math

E2E = ["completion_s", "setup_s", "mem_peak_mb"]

PLUGS = ["podping", "polls", "hive_engine"]
ROUTES = ["counts", "latest", "active", "ops", "user", "poll", "votes", "summary"]
# the query families the suite's queries fall in (Families.of in Suite.scala)
FAMILIES = ["operators.dedup", "operators.similarity", "operators.text",
            "operators.stats", "operators.sampling"]
FAMILY_FIELDS = ["wall_s", "task_s", "jobs", "tasks", "shuffle_mb"]
LAYERS = ["sources", "plugs", "streaming", "serving", "suite"]
MB = 1024.0 * 1024.0

def percentile(samples, p):
    """Nearest-rank percentile of `samples` (0 < p <= 1)."""
    if not samples:
        return 0.0
    s = sorted(samples)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


def geomean(samples):
    if not samples:
        return 0.0
    return math.exp(sum(math.log(x) for x in samples) / len(samples))


def median(samples):
    return percentile(samples, 0.5)


def mean(samples):
    return sum(samples) / len(samples) if samples else 0.0


def self_times(spans):
    """Self time per span id: its duration minus the union of the parts of
    its interval that its children cover (children may overlap)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(lo, c["start_ns"]), min(hi, c["end_ns"])
            if a >= b:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_self_s(spans):
    """Summed self time per layer (the span name's first component), in s."""
    st = self_times(spans)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        layer = s["name"].split(".")[0]
        if layer in out:
            out[layer] += st[s["id"]] / 1e9
    return out


def family_of_tag(tag):
    """Suite counters are tagged `q:<family>:<query>`."""
    return tag.split(":")[1] if tag.startswith("q:") else None


def counter_sum(counters, field, pred=lambda tag: True):
    return sum(v.get(field, 0) for tag, v in counters.items() if pred(tag))


def family_totals(counters, walls_ms):
    """Per-family wall, task time, jobs, tasks and shuffle of one suite pass.
    `walls_ms` maps `<family>:<query>` -> wall."""
    out = {}
    for fam in FAMILIES:
        in_fam = lambda tag, fam=fam: family_of_tag(tag) == fam
        out[fam] = {
            "wall_s": sum(w for k, w in walls_ms.items() if k.split(":")[0] == fam) / 1000.0,
            "task_s": counter_sum(counters, "task_ms", in_fam) / 1000.0,
            "jobs": counter_sum(counters, "jobs", in_fam),
            "tasks": counter_sum(counters, "tasks", in_fam),
            "shuffle_mb": counter_sum(counters, "shuffle_write_bytes", in_fam) / MB,
        }
    return out


def core_totals(counters, values):
    return {
        "core.jobs": counter_sum(counters, "jobs"),
        "core.tasks": counter_sum(counters, "tasks"),
        "core.task_s": counter_sum(counters, "task_ms") / 1000.0,
        "core.shuffle_write_mb": counter_sum(counters, "shuffle_write_bytes") / MB,
        "core.spill_mb": counter_sum(counters, "spill_bytes") / MB,
        "core.gc_s": counter_sum(counters, "gc_ms") / 1000.0,
        "core.storage_mb": values.get("storage_mb", 0.0),
    }


def steady(repetitions):
    """The timed repetitions after the first. The first after set-up runs
    about half again as long as the rest (the JVM is still warming), by an
    amount that varies from run to run, so it is timed but not counted."""
    return repetitions[1:] or repetitions


def query_walls(raw):
    """`<family>:<query>` -> median wall (ms) over the steady timed passes."""
    return {k[len("query_ms."):]: median(steady(v)) for k, v in raw["samples"].items()
            if k.startswith("query_ms.")}


def completion_s(raw):
    if raw["workload"] == "suite":
        return sum(query_walls(raw).values()) / 1000.0
    return median(steady(raw["samples"]["catchup_round_s"]))


def end_to_end(raw):
    return {
        "completion_s": completion_s(raw),
        "setup_s": raw["values"]["setup_s"],
        "mem_peak_mb": raw["values"]["mem_peak_mb"],
    }


def per_layer(raw, spans):
    s, v, c = raw["samples"], raw["values"], raw["counters"]
    p50 = lambda k: percentile(s.get(k, []), 0.5)
    out = {
        "sources.batches": sum(v.get(f"streaming.{p}.batches", 0) for p in PLUGS),
        "sources.range_blocks_p50": p50("sources.range_blocks"),
        "sources.next_range_ms_p50": p50("sources.next_range_ms"),
        "sources.commit_ms_p50": p50("sources.commit_ms"),
        "sources.backlog_blocks_max": max(s.get("sources.backlog_blocks", [0])),
        "plugs.rows_in": sum(s.get("plugs.rows_in", [])),
    }
    for p in PLUGS:
        batches = v.get(f"streaming.{p}.batches", 0)
        per = lambda x, b=batches: x / b if b else 0.0
        tag = lambda t, p=p: t == f"plug:{p}"
        out[f"plugs.{p}.transform_ms_p50"] = p50(f"plugs.{p}.transform_ms")
        out[f"plugs.{p}.rows_out"] = sum(s.get(f"plugs.{p}.rows_out", []))
        out[f"streaming.{p}.batch_ms_p50"] = p50(f"streaming.{p}.batch_ms")
        out[f"streaming.{p}.sink_ms_p50"] = p50(f"streaming.{p}.sink_ms")
        out[f"streaming.{p}.jobs_per_batch"] = per(counter_sum(c, "jobs", tag))
        out[f"streaming.{p}.tasks_per_batch"] = per(counter_sum(c, "tasks", tag))
        out[f"streaming.{p}.task_s_per_batch"] = per(counter_sum(c, "task_ms", tag) / 1000.0)
    all_batches = out["sources.batches"]
    plug_tag = lambda t: t.startswith("plug:")
    out["streaming.bytes_written_per_batch"] = (
        counter_sum(c, "output_bytes", plug_tag) / all_batches if all_batches else 0.0)
    out["streaming.files_written"] = v.get("streaming.files_written", 0)
    out["streaming.compactions"] = v.get("streaming.compactions", 0)
    out["streaming.compaction_batch_ms"] = p50("streaming.compaction_batch_ms")
    out["streaming.store_dirs_end"] = v.get("streaming.store_dirs_end", 0)
    out["streaming.live_freshness_mean_ms"] = mean(s.get("streaming.live_freshness_ms", []))

    requests = sum(len(s.get(f"serving.route.{r}.ms", [])) for r in ROUTES + ["api"])
    per_req = lambda x: x / requests if requests else 0.0
    gated = v.get("serving.gated", 0)
    for r in ROUTES:
        out[f"serving.route.{r}.p50_ms"] = p50(f"serving.route.{r}.ms")
    serving_tag = lambda t: t == "serving"
    out.update({
        "serving.latency_p50_ms": p50("serving.latency_ms"),
        "serving.latency_mean_ms": mean(s.get("serving.latency_ms", [])),
        "serving.queue_ms_avg": v.get("serving.queue_ns", 0) / gated / 1e6 if gated else 0.0,
        "serving.exec_ms_avg": v.get("serving.exec_ns", 0) / gated / 1e6 if gated else 0.0,
        "serving.result_cache_hit_ratio": per_req(v.get("serving.result_cache_hits", 0)),
        "serving.plan_cache_hit_ratio": (v.get("serving.plan_cache_hits", 0) / gated) if gated else 0.0,
        "serving.coalesced_ratio": per_req(v.get("serving.coalesced", 0)),
        "serving.point_index_hit_ratio": per_req(v.get("serving.point_index_hits", 0)),
        "serving.point_index_builds": v.get("serving.point_index_builds", 0),
        "serving.shed": v.get("serving.shed", 0),
        "serving.jobs_per_request": per_req(counter_sum(c, "jobs", serving_tag)),
        "serving.tasks_per_request": per_req(counter_sum(c, "tasks", serving_tag)),
        "serving.task_ms_per_request": per_req(counter_sum(c, "task_ms", serving_tag)),
        "serving.response_bytes_avg": (sum(s.get("serving.response_bytes", [])) /
                                       len(s["serving.response_bytes"])
                                       if s.get("serving.response_bytes") else 0.0),
    })

    walls = query_walls(raw)
    out["suite.geomean_ms"] = geomean(list(walls.values()))
    fams = family_totals(c, walls)
    for fam in FAMILIES:
        for f in FAMILY_FIELDS:
            out[f"{fam}.{f}"] = fams[fam][f]
    out["suite.plan_ms"] = median(s.get("pass_plan_ms", []))
    out["suite.codegen_compile_ms"] = median(s.get("pass_codegen_compile_ms", []))
    out.update(core_totals(c, v))
    late = s.get("gen.late_ms", []) + s.get("gen.block_late_ms", [])
    out["gen.late_max_ms"] = max(late, default=0.0)
    out["gen.requests"] = v.get("gen.requests", 0)
    out["gen.blocks"] = v.get("gen.blocks", 0)
    for layer, t in layer_self_s(spans).items():
        out[f"self_s.{layer}"] = t
    return out


def finite(x):
    """JSON has no infinity: a failed request's latency is counted as missing
    every limit, and printed as 1e9."""
    return x if math.isfinite(x) else 1e9


def per_layer_names():
    """Every per-layer metric name, in report order."""
    raw = {"workload": "suite", "samples": {}, "values": {"setup_s": 0, "mem_peak_mb": 0},
           "counters": {}}
    return list(per_layer(raw, []).keys())


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
