"""The traced per-layer run (``run.py --trace 1``).

The engine is not instrumented.  Instead this module wraps, for the length
of the run, the public functions through which the CLI reaches each layer
(``plans``, ``operators``, ``sources``, ``plans.checkpoints``) and then calls
``cli.main`` exactly as the untraced run does.  Each wrapper:

- opens a span (name, start, end, parent) and sets the Spark job
  description to ``<span id>|<span name>``, so the event log's jobs join to
  the span that started them;
- calls the function, recording the time spent inside the call (for a
  ``plans`` function this is its plan-build time, eager fills included);
- materialises a returned DataFrame once (persist + count) before the
  caller uses it, so the layer's own execution time lands in its span.

A layer that the workload's own operations never call is measured by first
running the other workloads' CLI operations, traced, over a small sample of
the workload's own pages (those figures are marked ``sample`` in the trace
file).  Then comes the traced pass of the workload's own operations, and
last the pass's first operation once more, untraced, in the same session:
the reference for the tracing overhead.  Pure-Python kernels are timed without Spark on a fixed
sample of the workload's pages.  Spans and figures are written to
``perfbench/.work/<workload>-trace.json`` when the run ends (outside the
working directory that the run deletes).
"""

import contextlib
import functools
import json
import os
import statistics
import time

import eventlog
import run as bench
from corpus import write_warc
from procsampler import TreeSampler

SAMPLE_PAGES = 32
SAMPLE_DELTA_PAGES = 12
KERNEL_PAGES = 24
# the other workloads whose operations the traced run also makes, over a
# sample of this workload's pages, so that every layer is measured
SAMPLE_PASSES = {
    "offtopic_timelines": ("ingest_promote",),
    "neardup_crawl": ("offtopic_timelines", "ingest_promote"),
    "ingest_promote": ("offtopic_timelines",),
}


class Tracer:
    """In-memory spans plus the wrappers that record them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans = []
        self.stack = []
        self.pins = []
        self.restore = []
        self.op = None   # (op name, "own" | "sample") of the current op

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self.stack[-1] if self.stack else None,
               "op": self.op, "start": time.time()}
        rec["desc"] = f"{rec['id']}|{name}"
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self.sc.setJobDescription(rec["desc"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self.stack.pop()
            self.sc.setJobDescription(
                self.spans[self.stack[-1]]["desc"] if self.stack else None)

    def materialize(self, value, rec):
        from pyspark.sql import DataFrame

        if isinstance(value, DataFrame):
            value = value.persist()
            rec["rows"] = rec.get("rows", 0) + value.count()
            self.pins.append(value)
        elif isinstance(value, dict):
            value = {k: self.materialize(v, rec) for k, v in value.items()}
        return value

    def wrap(self, owner, attr: str, name: str, materialize: bool = True,
             count_input: str | None = None):
        """Replace ``owner.attr`` by a traced call.  ``count_input`` names a
        span, opened just before the call, that counts the first argument
        (the input's own lineage then runs there, not in this layer)."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            input_rows = None
            if count_input:
                with self.span(count_input) as rec:
                    input_rows = rec["rows"] = args[0].count()
            with self.span(name) as rec:
                rec["input_rows"] = input_rows
                t0 = time.perf_counter()
                out = original(*args, **kwargs)
                rec["build_s"] = time.perf_counter() - t0
                rec["build_end"] = time.time()
                if materialize:
                    out = self.materialize(out, rec)
                rec["out"] = out
                return out

        setattr(owner, attr, traced)
        self.restore.append((owner, attr, original))

    def unwrap(self):
        for owner, attr, original in reversed(self.restore):
            setattr(owner, attr, original)
        self.restore = []

    def release(self):
        from off_topic_memento_toolkit_spark.session import release_persisted

        release_persisted(self.pins)


def install(tracer: Tracer) -> None:
    """Wrap every call site through which cli.main reaches a layer: the
    package binds some functions at import time (``from x import f``), so
    each binding is wrapped where it is looked up."""
    from off_topic_memento_toolkit_spark import cli
    from off_topic_memento_toolkit_spark.operators import (
        incremental,
        lsh,
        measures,
        timeline,
        verify,
    )
    from off_topic_memento_toolkit_spark.plans import checkpoints, pipeline
    from off_topic_memento_toolkit_spark.sources import sinks, warc
    from pyspark.sql import DataFrameWriter

    w = tracer.wrap
    w(cli, "detect_off_topic", "plans.detect_off_topic")
    w(cli, "dedup_pipeline", "plans.dedup_pipeline")
    w(cli, "story_pipeline", "plans.story_pipeline")
    for mod in (pipeline, measures, timeline):
        w(mod, "prepare_pages", "operators.prepare_pages")
    for mod in (pipeline, measures):
        w(mod, "memento_metadata", "operators.memento_metadata")
    w(pipeline, "score_timemap_measures", "operators.score_timemap_measures")
    w(pipeline, "overall_status", "operators.overall_status")
    for fn in ("exclude_duplicates", "slice_by_datetime", "cluster_by_simhash",
               "quality_score", "select_representatives"):
        w(pipeline, fn, f"operators.curation.{fn}")
    for mod in (pipeline, lsh):
        w(mod, "minhash_band_table", "operators.minhash_band_table")
    w(pipeline, "candidate_pairs_from_buckets",
      "operators.candidate_pairs.minhash")
    w(pipeline, "simhash_candidate_pairs", "operators.candidate_pairs.simhash")
    w(verify, "prune_docs_to_pair_endpoints", "operators.verify.prune")
    for mod in (pipeline, verify):
        w(mod, "verified_pairs_jaccard", "operators.verify",
          count_input="operators.candidate_pairs.union")
    w(pipeline, "attach_components", "operators.components")
    w(incremental, "incremental_dedup_update", "operators.incremental",
      materialize=False)
    w(incremental, "incremental_candidate_pairs",
      "operators.incremental.candidate_pairs")
    w(incremental, "incremental_simhash_pairs",
      "operators.incremental.simhash_pairs")
    w(incremental, "incremental_components", "operators.incremental.components")
    w(warc, "read_warc_pages", "sources.read_warc_pages")
    w(sinks, "save_as_json_distributed", "sources.sinks", materialize=False)
    w(checkpoints.CheckpointStore, "write", "plans.checkpoints.write",
      materialize=False)
    w(checkpoints.CheckpointStore, "merge", "plans.checkpoints.merge",
      materialize=False)
    # the CLI's own output writes
    w(DataFrameWriter, "parquet", "sources.write_parquet", materialize=False)


# -- inputs ----------------------------------------------------------------

def write_sample(corpus_dir: str, sample_dir: str) -> dict:
    """The first pages of the workload's corpus as a pages table, and the
    next few as a gzip WARC delta, for the operations it does not run."""
    import pyarrow.parquet as pq

    from corpus import PAGES_SCHEMA

    table = pq.read_table(os.path.join(corpus_dir, "pages"),
                          schema=PAGES_SCHEMA)
    os.makedirs(os.path.join(sample_dir, "pages"))
    pq.write_table(table.slice(0, SAMPLE_PAGES),
                   os.path.join(sample_dir, "pages", "part-00000.parquet"))
    delta = table.slice(SAMPLE_PAGES, SAMPLE_DELTA_PAGES).to_pylist()
    write_warc(delta, os.path.join(sample_dir, "delta-0", "batch.warc.gz"))
    return {"pages": SAMPLE_PAGES, "delta_pages": [len(delta)],
            "dup_groups": [], "offtopic_urims": []}


# -- kernels ---------------------------------------------------------------

def time_kernels(corpus_dir: str) -> dict:
    """Per-page cost of the pure-Python kernels, no Spark: the median of
    three passes over the first KERNEL_PAGES pages of the corpus."""
    import pyarrow.parquet as pq

    from off_topic_memento_toolkit_spark.functions.minhash import \
        minhash_signature
    from off_topic_memento_toolkit_spark.functions.porter import porter_stem
    from off_topic_memento_toolkit_spark.functions.seqdist import \
        levenshtein_np
    from off_topic_memento_toolkit_spark.functions.simhash64 import (
        simhash_raw_bytes,
        simhash_tokens,
    )
    from off_topic_memento_toolkit_spark.functions.textprep import (
        extract_text,
        full_tokenize,
    )
    from off_topic_memento_toolkit_spark.functions.treebank import \
        word_tokenize

    html = pq.read_table(os.path.join(corpus_dir, "pages"),
                         columns=["html"]).column("html").to_pylist()
    html = [h for h in html if h][:KERNEL_PAGES]
    texts = [extract_text(h) for h in html]
    words = [word_tokenize(t) for t in texts]
    tokens = [full_tokenize(t) for t in texts]
    pairs = list(zip(tokens[:-1], tokens[1:]))

    def per_item_us(fn, items):
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            for item in items:
                fn(item)
            runs.append((time.perf_counter() - t0) / len(items) * 1e6)
        return statistics.median(runs)

    return {
        "extract_text": per_item_us(extract_text, html),
        "word_tokenize": per_item_us(word_tokenize, texts),
        "porter_stem": per_item_us(
            lambda ws: [porter_stem(w) for w in ws], words),
        "simhash_raw": per_item_us(simhash_raw_bytes, html),
        "simhash_tokens": per_item_us(simhash_tokens, tokens),
        "minhash_signature": per_item_us(minhash_signature, tokens),
        "levenshtein_pair": per_item_us(lambda p: levenshtein_np(*p), pairs),
    }


# -- the run ---------------------------------------------------------------

def _outermost(spans: list, match) -> list:
    """Spans whose name matches, excluding those nested in a matching
    span (so a layer's inclusive time is not counted twice)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not match(s["name"]):
            continue
        parent = s["parent"]
        while parent is not None and not match(by_id[parent]["name"]):
            parent = by_id[parent]["parent"]
        if parent is None:
            out.append(s)
    return out


def _descendants(spans: list, roots: list) -> list:
    ids = {s["id"] for s in roots}
    out = list(roots)
    for s in spans:   # spans are recorded in start order: parents first
        if s["parent"] in ids and s["id"] not in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def _dir_stats(paths: list) -> tuple:
    total = files = 0
    for path in paths:
        for dirpath, _, names in os.walk(path):
            for name in names:
                total += os.path.getsize(os.path.join(dirpath, name))
                files += 1
    return total, files


def traced_run(name, work, corpus_dir, truth, cpus) -> dict:
    """One traced pass of the workload's operations (``--seconds`` does not
    apply: the passes are fixed); returns the result object."""
    event_dir = os.path.join(work, "eventlog")
    os.makedirs(event_dir)
    spark, cli, setup_s = bench.start_session(work, cpus, event_dir)
    tracer = Tracer(spark)
    sample_dir = os.path.join(work, "sample")
    sample_truth = write_sample(corpus_dir, sample_dir)
    own = bench.Workload(name, corpus_dir, os.path.join(work, "out"), truth,
                         cli, spark)
    passes = [(own, "own")] + [
        (bench.Workload(other, sample_dir, os.path.join(work, other),
                        sample_truth, cli, spark), "sample")
        for other in SAMPLE_PASSES[name]]
    attempted = 0
    try:
        # the sample passes warm the session up; the untraced reference
        # for the tracing overhead runs after the traced pass, so it is
        # the warmer run and the overhead is not understated
        install(tracer)
        inputs = {}
        dropped = {}
        for workload, source in passes[1:] + passes[:1]:
            attempted += 1
            traced_cli(tracer, workload, source)
            first_span = len(tracer.spans)
            with TreeSampler(os.getpid()) as sampler:
                inputs[source] = inputs.get(source, 0) + \
                    workload.iteration(1)["pages"]
            rows = dropped_bucket_rows(tracer, first_span)
            if rows is not None:
                dropped[source] = rows
            tracer.release()
        tracer.unwrap()
        del own.run_cli   # back to the untraced method
        failures, _ = own.check(1)
        for failure in failures:
            bench.log(f"check failed: {failure}")
        # the reference: the pass's first operation again, untraced
        attempted += 1
        reference_argv = own.commands(2)[1][0]
        reference_s = own.run_cli(reference_argv)
    except Exception as exc:  # noqa: BLE001 — reported, run fails
        bench.log(f"traced operation failed: {exc!r}")
        return {"correct": False, "attempted": attempted, "failed": 1,
                "metrics": {}}
    finally:
        tracer.unwrap()
        bench.stop_session(spark)

    ingest_out = os.path.join(
        work, "out" if name == "ingest_promote" else "ingest_promote", "1")
    store_dirs = [os.path.join(ingest_out, d) for d in os.listdir(ingest_out)
                  if d == "store" or d.startswith("inc-")]
    ingest_corpus = corpus_dir if name == "ingest_promote" else sample_dir
    context = {
        "cpus": cpus, "setup_s": setup_s,
        "reference_op": reference_argv[0], "reference_s": reference_s,
        "own_pages": inputs["own"], "peak_rss_mb": sampler.peak_rss_mb,
        "dropped_rows": ((dropped["own"], "count", "own") if "own" in dropped
                         else (dropped.get("sample", 0), "count", "sample")),
        "store_dirs": store_dirs, "ingest_corpus": ingest_corpus,
        "own_pages_by_op": pages_by_op(name, truth),
        "delta_pages": (truth if name == "ingest_promote"
                        else sample_truth)["delta_pages"],
    }
    kernels = time_kernels(corpus_dir)
    log_path = eventlog.log_path(event_dir)
    metrics, report = per_layer_metrics(
        tracer.spans, eventlog.job_totals(log_path),
        eventlog.job_starts(log_path), kernels, context)
    for op, share in report["unattributed_share"].items():
        bench.log(f"{name} {op}: {100 * share:.1f}% of the traced wall time "
                  f"outside any layer span")
    bench.log(f"{name}: tracing overhead {report['overhead_ratio']:.3f}x on "
              f"{context['reference_op']} ({report['traced_s']:.2f} s traced, "
              f"{report['untraced_s']:.2f} s untraced)")
    out_path = os.path.join(bench.HERE, ".work", f"{name}-trace.json")
    with open(out_path, "w") as fh:
        json.dump({"workload": name, "report": report,
                   "metrics": {k: v for k, (v, _) in metrics.items()},
                   "spans": [{k: v for k, v in s.items() if k != "out"}
                             for s in tracer.spans]},
                  fh, indent=1, default=str)
    bench.log(f"trace written to {os.path.relpath(out_path)}")
    return {"correct": not failures, "attempted": attempted,
            "failed": 1 if failures else 0,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def pages_by_op(name: str, truth: dict) -> dict:
    """Input pages of one call of each of the workload's operations."""
    if name == "ingest_promote":
        deltas = truth["delta_pages"]
        return {"dedup": truth["pages"], "ingest": sum(deltas) / len(deltas)}
    return {op: truth["pages"] for op in ("detect", "story", "dedup")}


def traced_cli(tracer: Tracer, workload, source: str) -> None:
    """Route the workload's cli.main calls through one span per op."""
    plain = workload.run_cli

    def run_cli(argv):
        tracer.op = [argv[0], source]
        try:
            with tracer.span(f"cli.{argv[0]}"):
                return plain(argv)
        finally:
            tracer.op = None

    workload.run_cli = run_cli


def dropped_bucket_rows(tracer: Tracer, first_span: int):
    """Rows the LSH bucket cap drops from the first band table built since
    span ``first_span`` (None when none was built)."""
    from off_topic_memento_toolkit_spark.operators.lsh import \
        dropped_bucket_stats

    for s in tracer.spans[first_span:]:
        if s["name"] == "operators.minhash_band_table" and "out" in s:
            with tracer.span("operators.lsh.dropped_bucket_stats"):
                row = dropped_bucket_stats(s["out"]).first()
            return int(row["dropped_rows"]) if row else 0
    return None


# per-page kernels each operation evaluates at least once per input page,
# the base of udfs.kernel_share
OP_KERNELS = {
    "detect": ("extract_text", "word_tokenize", "porter_stem", "simhash_raw",
               "simhash_tokens", "levenshtein_pair"),
    "story": ("extract_text", "word_tokenize", "porter_stem", "simhash_raw"),
    "dedup": ("extract_text", "word_tokenize", "porter_stem", "simhash_raw",
              "minhash_signature"),
    "ingest": ("extract_text", "word_tokenize", "porter_stem", "simhash_raw",
               "minhash_signature"),
}


def per_layer_metrics(spans, jobs, starts, kernels, ctx) -> tuple:
    """The per-layer figures from the spans and the event log.  A layer's
    time is the summed wall time of its outermost spans in the workload's
    own operations, or in the sample operations when its own never call
    the layer."""
    def layer(match):
        found = _outermost(spans, match)
        own = [s for s in found if (s.get("op") or [None, None])[1] == "own"]
        sample = [s for s in found
                  if (s.get("op") or [None, None])[1] == "sample"]
        return (own, "own") if own else (sample, "sample")

    def named(name):
        return layer(lambda n: n == name)

    def prefixed(prefix):
        return layer(lambda n: n == prefix or n.startswith(prefix + "."))

    def wall(group):
        return sum(s["wall_s"] for s in group)

    def jobs_of(group):
        return eventlog.sum_totals(
            jobs, [s["desc"] for s in _descendants(spans, group)])

    sources = {}
    metrics = {}

    def put(name, value, unit, source="own"):
        metrics[name] = (value, unit)
        sources[name] = source

    for kernel, us in kernels.items():
        if kernel == "levenshtein_pair":
            put("functions.levenshtein.us_per_pair", us, "us")
        else:
            put(f"functions.{kernel}.us_per_page", us, "us")

    ops = [s for s in spans if s["parent"] is None
           and s["name"].startswith("cli.")]
    own_ops = [s for s in ops if s["op"][1] == "own"]
    for op in ("detect", "story", "dedup", "ingest"):
        group, source = layer(lambda n, op=op: n == f"cli.{op}")
        put(f"cli.{op}.s", statistics.median(s["wall_s"] for s in group)
            if group else 0.0, "s", source)

    # Spark-side totals over the workload's own operations
    spark_totals = jobs_of(own_ops)
    own_wall = wall(own_ops)
    put("spark.executor_cpu_s", spark_totals["executor_cpu_s"], "s")
    put("spark.executor_run_s", spark_totals["executor_run_s"], "s")
    put("spark.core_busy_ratio",
        spark_totals["executor_run_s"] / (own_wall * ctx["cpus"]), "ratio")
    put("spark.shuffle_write_mb", spark_totals["shuffle_write_mb"], "MB")
    put("spark.spill_mb", spark_totals["spill_mb"], "MB")
    put("spark.gc_s", spark_totals["gc_s"], "s")
    put("spark.jobs", spark_totals["jobs"], "count")
    put("spark.tasks", spark_totals["tasks"], "count")

    python_run = spark_totals["python_run_s"]
    put("udfs.python_run_s", python_run, "s")
    put("udfs.python_start_s", spark_totals["python_start_s"], "s")
    put("udfs.to_python_mb", spark_totals["to_python_mb"], "MB")
    put("udfs.from_python_mb", spark_totals["from_python_mb"], "MB")
    kernel_s = 0.0
    for s in own_ops:
        op = s["op"][0]
        pages = ctx["own_pages_by_op"].get(op, 0)
        kernel_s += pages * sum(kernels[k] for k in OP_KERNELS[op]) * 1e-6
    put("udfs.kernel_share", kernel_s / python_run if python_run else 0.0,
        "ratio")

    for name in ("prepare_pages", "score_timemap_measures", "overall_status",
                 "minhash_band_table", "components"):
        group, source = named(f"operators.{name}")
        put(f"operators.{name}.s", wall(group), "s", source)
    group, source = prefixed("operators.curation")
    put("operators.curation.s", wall(group), "s", source)
    group, source = prefixed("operators.candidate_pairs")
    put("operators.candidate_pairs.s", wall(group), "s", source)
    group, source = prefixed("operators.verify")
    put("operators.verify.s", wall(group), "s", source)
    verify_spans = [s for s in group if s["name"] == "operators.verify"]
    candidates = sum(s.get("input_rows") or 0 for s in verify_spans)
    verified = sum(s.get("rows") or 0 for s in verify_spans)
    put("operators.lsh.candidate_pairs", candidates, "count", source)
    put("operators.verify.pass_ratio",
        verified / candidates if candidates else 0.0, "ratio", source)
    put("operators.lsh.dropped_bucket_rows", *ctx["dropped_rows"])
    group, source = named("operators.components")
    put("operators.components.jobs", jobs_of(group)["jobs"], "count", source)

    group, source = named("operators.incremental")
    put("operators.incremental.s", wall(group), "s", source)
    inc_candidates = 0
    for store in ctx["store_dirs"]:
        marker = os.path.join(store, "inc_candidates._COMMIT.json")
        if os.path.exists(marker):
            with open(marker) as fh:
                inc_candidates += json.load(fh)["rows"]
    put("operators.incremental.candidates_per_delta_page",
        inc_candidates / sum(ctx["delta_pages"]), "ratio", source)

    for plan in ("dedup_pipeline", "detect_off_topic"):
        group, source = named(f"plans.{plan}")
        build_jobs = 0
        for s in group:
            descs = [d["desc"] for d in _descendants(spans, [s])]
            build_jobs += sum(1 for d in descs for t in starts.get(d, [])
                              if t <= s["build_end"] * 1000)
        put(f"plans.{plan}.build_s", sum(s["build_s"] for s in group), "s",
            source)
        put(f"plans.{plan}.build_jobs", build_jobs, "count", source)

    group, source = prefixed("plans.checkpoints")
    store_bytes, store_files = _dir_stats(ctx["store_dirs"])
    input_bytes, _ = _dir_stats([ctx["ingest_corpus"]])
    put("plans.checkpoints.write_s", wall(group), "s", source)
    put("plans.checkpoints.bytes_per_input_byte", store_bytes / input_bytes,
        "ratio", source)
    put("plans.checkpoints.files", store_files, "count", source)

    group, source = named("sources.read_warc_pages")
    parsed = sum(s.get("rows") or 0 for s in group)
    put("sources.read_warc_pages.us_per_page",
        wall(group) / parsed * 1e6 if parsed else 0.0, "us", source)
    group, source = named("sources.sinks")
    put("sources.sinks.write_s", wall(group), "s", source)

    put("session.setup_s", ctx["setup_s"], "s")
    put("process.peak_rss_mb", ctx["peak_rss_mb"], "MB")
    unattributed = {}
    for s in own_ops:
        children = [c for c in spans if c["parent"] == s["id"]]
        share = (s["wall_s"] - wall(children)) / s["wall_s"]
        key = s["name"]
        unattributed[key] = max(unattributed.get(key, 0.0), share)
    put("trace.unattributed_share_max", max(unattributed.values()), "ratio")
    # the first traced call of the reference operation vs the same
    # operation run again untraced after the traced pass
    traced_s = next(s["wall_s"] for s in own_ops
                    if s["name"] == f"cli.{ctx['reference_op']}")
    overhead = traced_s / ctx["reference_s"]
    put("trace.overhead_ratio", overhead, "ratio")
    report = {"unattributed_share": unattributed,
              "overhead_ratio": overhead, "traced_s": traced_s,
              "untraced_s": ctx["reference_s"],
              "traced_pages_per_s": ctx["own_pages"] / own_wall,
              "python_init_s": spark_totals["python_init_s"],
              "metric_source": sources}
    return metrics, report
