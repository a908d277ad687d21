"""Per-layer metrics from a traced run's spans.

Each span (src/Support.scala `Tracer`) has an id, its parent, a name,
start/end seconds and the SparkListener counts seen while it was open.
`per_layer` turns one run's spans and result into the per-layer table;
the values are medians over the timed passes unless said otherwise.

    python3 perfbench/layers.py perfbench/.work/traces/*.layers.json

prints the README's per-layer table from the kept traced runs.
"""
import json
import statistics
import sys

# Printed on the result line of a traced run (BENCHMARK.json per_layer):
# the metrics every workload measures, plus counts that read 0 on a
# workload that does not reach the layer.
PRINTED = [
    ("GraftSession.session_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.task_s", "s"),
    ("scheduler.gc_s", "s"), ("scheduler.utilisation", "ratio"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.spill_mb", "MB"), ("codegen.compiles", "count"),
    ("jvm.jit_s", "s"), ("jvm.jit_cpu_s", "s"), ("jvm.gc_s", "s"),
    ("jvm.heap_peak_mb", "MB"),
    ("operators.Clean.rows_dropped", "count"),
    ("operators.HttpEnricher.requests", "count"),
    ("operators.HttpEnricher.texts", "count"),
    ("operators.HttpEnricher.max_in_flight", "count"),
    ("operators.HttpEnricher.overlap", "ratio"),
    ("sources.Snapshots.bytes_written", "MB"),
    ("sources.Snapshots.files_written", "count"),
    ("sources.Snapshots.bytes_read", "MB"),
]
# Kept in the traced run's layers.json and the README table only: times
# of layers one workload does not reach, which would read 0 there.
WORKLOAD_ONLY = [
    ("SparkEntry.registry_s", "s"), ("SparkEntry.construct_s", "s"),
    ("plans.plan_s", "s"), ("pipeline.silver_s", "s"), ("pipeline.gold_s", "s"),
    ("pipeline.kpi_s", "s"), ("operators.HttpEnricher.endpoint_wait_s", "s"),
]
MB = 1048576.0


def load_spans(path):
    with open(path) as f:
        return json.load(f)["spans"]


def _children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def _dur(s):
    return s["end_s"] - s["start_s"]


def _descendants(kids, sid):
    out, todo = [], list(kids.get(sid, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo += kids.get(s["id"], [])
    return out


def per_layer(result, spans):
    """All per-layer metrics of one traced run, as {name: {value, unit}}."""
    kids = _children(spans)
    by_id = {s["id"]: s for s in spans}
    timed = [p for p in result["passes"] if p["kind"] == "timed"]
    pass_spans = [by_id[p["span"]] for p in timed]
    cores = result["cores"]

    def med(values):
        return statistics.median(values) if values else 0.0

    def per_pass(fn):
        return med([fn(ps) for ps in pass_spans])

    def named(ps, prefix):
        return [s for s in _descendants(kids, ps["id"]) if s["name"].startswith(prefix)]

    v = {}
    v["GraftSession.session_s"] = result["session_s"]
    c = lambda ps, k: ps["counts"].get(k, 0.0)  # noqa: E731
    v["scheduler.jobs"] = per_pass(lambda ps: c(ps, "jobs"))
    v["scheduler.stages"] = per_pass(lambda ps: c(ps, "stages"))
    v["scheduler.tasks"] = per_pass(lambda ps: c(ps, "tasks"))
    v["scheduler.task_s"] = per_pass(lambda ps: c(ps, "task_s"))
    v["scheduler.gc_s"] = per_pass(lambda ps: c(ps, "gc_s"))
    v["scheduler.utilisation"] = per_pass(
        lambda ps: c(ps, "task_s") / (_dur(ps) * cores))
    v["shuffle.write_mb"] = per_pass(lambda ps: c(ps, "shuffle_write_b") / MB)
    v["shuffle.read_mb"] = per_pass(lambda ps: c(ps, "shuffle_read_b") / MB)
    v["shuffle.spill_mb"] = per_pass(lambda ps: c(ps, "spill_b") / MB)
    v["codegen.compiles"] = med([p["codegen_compiles"] for p in timed])
    jvm = result["jvm_after_cold"]
    v["jvm.jit_s"], v["jvm.gc_s"] = jvm["jit_s"], jvm["gc_s"]
    v["jvm.heap_peak_mb"] = jvm["heap_peak_mb"]
    v["jvm.jit_cpu_s"] = result["passes"][0]["jit_cpu_s"]

    checked = result.get("checked", {})
    v["operators.Clean.rows_dropped"] = checked.get("rows_dropped", 0)
    ep = [o["stats"] for p in timed for o in p["ops"] if o.get("name") == "endpoint"]
    for k in ("requests", "texts", "max_in_flight", "endpoint_wait_s"):
        v[f"operators.HttpEnricher.{k}"] = med([e[k] for e in ep])
    gold = [sum(_dur(s) for s in named(ps, "pipeline.gold")) for ps in pass_spans]
    v["operators.HttpEnricher.overlap"] = med(
        [e["endpoint_wait_s"] / g for e, g in zip(ep, gold) if g > 0])
    commits = lambda ps: named(ps, "commit.")  # noqa: E731
    v["sources.Snapshots.bytes_written"] = per_pass(
        lambda ps: sum(c(s, "output_b") for s in commits(ps)) / MB)
    v["sources.Snapshots.files_written"] = checked.get("files_written", 0)
    v["sources.Snapshots.bytes_read"] = per_pass(
        lambda ps: sum(c(s, "input_b") for s in commits(ps)
                       if not s["name"].startswith("commit.silver")) / MB)

    v["SparkEntry.registry_s"] = result.get("extra", {}).get("registry_s", 0.0)
    v["SparkEntry.construct_s"] = per_pass(
        lambda ps: sum(_dur(s) for s in named(ps, "construct")))
    v["plans.plan_s"] = per_pass(lambda ps: sum(_dur(s) for s in named(ps, "plan")))
    for layer in ("silver", "gold", "kpi"):
        v[f"pipeline.{layer}_s"] = per_pass(
            lambda ps: sum(_dur(s) for s in named(ps, f"pipeline.{layer}")))
    units = dict(PRINTED + WORKLOAD_ONLY)
    return {k: {"value": v[k], "unit": units[k]} for k in units}


def printed(metrics):
    return {k: metrics[k] for k, _ in PRINTED}


def table(paths):
    runs = {}
    for p in paths:
        with open(p) as f:
            d = json.load(f)
        runs.setdefault(d["workload"], []).append(d)
    names = [k for k, _ in PRINTED + WORKLOAD_ONLY]
    units = dict(PRINTED + WORKLOAD_ONLY)
    wls = sorted(runs)
    lines = ["| metric | unit | " + " | ".join(wls) + " |",
             "|---|---|" + "---|" * len(wls)]
    for n in names:
        cells = []
        for w in wls:
            vals = [r["metrics"][n]["value"] for r in runs[w]]
            cells.append(f"{statistics.median(vals):.4g}")
        lines.append(f"| `{n}` | {units[n]} | " + " | ".join(cells) + " |")
    return "\n".join(lines)


if __name__ == "__main__":
    print(table(sys.argv[1:]))
