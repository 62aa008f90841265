#!/usr/bin/env python3
"""The sparkotmt benchmark: one command, one workload, one Spark session.

    python3 perfbench/run.py --workload offtopic_timelines --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout.  The command writes a seeded corpus under
``perfbench/.work`` (nothing outside the checkout), starts one long-lived
session at ``local[nproc]`` and drives the engine through its user-facing
entry point, ``cli.main(argv, spark=...)``, in a closed loop: one client,
one operation at a time.  It repeats the workload's operation sequence for
``--seconds`` (after a warm-up pass for the workloads that have one),
checks the last outputs against the planted truth, and prints as its last
line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the traced
per-layer pass instead (see tracing.py) and reports the per-layer metrics.
The exit code is non-zero when an operation or an output check failed.
"""

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from corpus import generate, urim_of  # noqa: E402

WORKLOADS = ("offtopic_timelines", "neardup_crawl", "ingest_promote")
# for these workloads set-up ends with a warm-up: one pass over a small
# corpus of their own (drawn from another seed, so it shares no page with
# the measured one).  A session's first operations pay the JVM's class
# loading and JIT and the Python workers' imports (a 16-page detect + story
# took 19 s, a warm 200-page pass 12-15 s); set-up carries that cost, and
# the measured passes start in a warm session.  ingest_promote does not
# warm up: its pass (~45-55 s) starts with the base dedup, and its warm-up
# pass (a dedup and two ingests, ~45 s) would not fit the run budget.
WARMUP_WORKLOADS = ("offtopic_timelines", "neardup_crawl")
WARMUP_SCALE = 0.05
ALL_MEASURES = ("cosine,bytecount,wordcount,tfintersection,jaccard,sorensen,"
                "raw_simhash,tf_simhash,gensim_lsi,gensim_lda,levenshtein,"
                "nlevenshtein")
N_MEASURES = len(ALL_MEASURES.split(","))
RECALL_TARGET = 0.99


def log(*args):
    print(*args, file=sys.stderr, flush=True)


def prepare_environment(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the corpora are a few MB; a 2 GB heap keeps the JVM's footprint (and
    # so peak_rss_mb) bounded on a shared machine
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ.pop("SPARK_MASTER", None)


def session_conf(work: str, event_log_dir: str | None) -> dict:
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if event_log_dir:
        # Spark 4 compresses event logs with zstd by default; the reader
        # wants plain JSON lines
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(work: str, cpus: int, event_log_dir: str | None = None):
    """Package import, session creation and a first job that forks the
    Python workers; returns (spark, cli module, setup seconds)."""
    t0 = time.perf_counter()
    from off_topic_memento_toolkit_spark import cli
    from off_topic_memento_toolkit_spark.functions.udfs import tokenize_udf
    from off_topic_memento_toolkit_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      extra_conf=session_conf(work, event_log_dir))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(cpus, numPartitions=cpus).select(
        tokenize_udf(F.col("id").cast("string"))).collect()
    return spark, cli, time.perf_counter() - t0


class Workload:
    """One workload: its corpus, its CLI operation sequence and its checks.

    ``iteration(k)`` runs the sequence once and returns
    ``{"pages": n, "ops": [(command, seconds), ...]}``; outputs go to
    ``out/<k>/``.  ``check(k)`` reads pass k's outputs back and returns
    ``(failures, figures)``."""

    def __init__(self, name: str, corpus_dir: str, out_dir: str, truth: dict,
                 cli, spark):
        self.name = name
        self.corpus = corpus_dir
        self.out = out_dir
        self.truth = truth
        self.cli = cli
        self.spark = spark
        self.pages = os.path.join(corpus_dir, "pages")

    def run_cli(self, argv: list) -> float:
        from off_topic_memento_toolkit_spark.session import \
            release_session_pins

        t0 = time.perf_counter()
        self.cli.main(argv, spark=self.spark)
        # a long-lived session drains the operators' cached frames between
        # operations, as the session module documents
        release_session_pins()
        return time.perf_counter() - t0

    # -- offtopic_timelines ------------------------------------------------
    def offtopic_commands(self, out: str) -> tuple:
        return self.truth["pages"], [
            ["detect", "-i", f"pages:{self.pages}",
             "-o", os.path.join(out, "scores"), "-ot", "json-dist",
             "-tm", ALL_MEASURES],
            ["story", "-i", f"pages:{self.pages}",
             "-o", os.path.join(out, "story")],
        ]

    def offtopic_check(self, k: int):
        out = os.path.join(self.out, str(k))
        records = []
        for name in sorted(os.listdir(os.path.join(out, "scores"))):
            if name.startswith("part-"):
                with open(os.path.join(out, "scores", name)) as fh:
                    records.extend(json.loads(line) for line in fh)
        failures = []
        expected = self.truth["pages"] * N_MEASURES
        if len(records) != expected:
            failures.append(f"score rows {len(records)} != pages x "
                            f"{N_MEASURES} = {expected}")
        overall = {r["urim"]: r.get("overall_topic_status") for r in records}
        cosine_off = {r["urim"] for r in records if r["measure"] == "cosine"
                      and r.get("topic_status") == "off-topic"}
        planted = set(self.truth["offtopic_urims"])
        missed = sorted(u for u in planted if overall.get(u) != "off-topic")
        if missed:
            failures.append(f"{len(missed)} planted off-topic mementos not "
                            f"labelled off-topic, e.g. {missed[0]}")
        recall = (len(planted) - len(missed)) / len(planted)
        # precision is read from the cosine measure (OTMT's default): the
        # overall OR also carries the raw-count levenshtein vote, whose
        # reference threshold (0.05) labels every changed capture off-topic
        precision = (len(cosine_off & planted) / len(cosine_off)
                     if cosine_off else 0.0)
        import pyarrow.parquet as pq

        story = pq.read_table(os.path.join(out, "story"))
        if story.num_rows == 0:
            failures.append("story wrote no representatives")
        elif not set(story.column("urim").to_pylist()) <= set(overall):
            failures.append("story picked a memento that is not an input page")
        return failures, {"truth_recall": recall, "truth_precision": precision,
                          "story_rows": story.num_rows}

    # -- neardup_crawl -----------------------------------------------------
    def neardup_commands(self, out: str) -> tuple:
        return self.truth["pages"], [
            ["dedup", "-i", f"pages:{self.pages}",
             "-o", os.path.join(out, "clusters")],
        ]

    def neardup_check(self, k: int):
        return self.cluster_check(
            os.path.join(self.out, str(k), "clusters"),
            self.expected_urims(include_deltas=False))

    # -- ingest_promote ----------------------------------------------------
    def ingest_commands(self, out: str) -> tuple:
        store = os.path.join(out, "store")
        commands = [["dedup", "-i", f"pages:{self.pages}",
                     "-o", os.path.join(out, "base_clusters"),
                     "--checkpoint-dir", store]]
        for d in range(len(self.truth["delta_pages"])):
            commands.append([
                "ingest", "-i",
                f"warc:{os.path.join(self.corpus, f'delta-{d}')}/*.warc.gz",
                "--base-checkpoint-dir", store,
                "-o", os.path.join(out, f"clusters-{d}"),
                "--checkpoint-dir", os.path.join(out, f"inc-{d}"),
                "--run-id", f"inc-{d}", "--promote"])
        return self.truth["pages"] + sum(self.truth["delta_pages"]), commands

    def stage_metrics(self, checkpoint_dir: str) -> dict:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.cli.main(["metrics", "--checkpoint-dir", checkpoint_dir])
        return {m["stage"]: m for m in json.loads(buf.getvalue())}

    def ingest_check(self, k: int):
        out = os.path.join(self.out, str(k))
        deltas = len(self.truth["delta_pages"])
        failures = []
        base = self.stage_metrics(os.path.join(out, "store"))
        for stage in ("params", "docs", "bands", "candidate_edges",
                      "verified_edges", "clusters"):
            if stage not in base:
                failures.append(f"base stage {stage} not committed")
        for stage in ("docs", "bands", "verified_edges", "clusters"):
            version = base.get(stage, {}).get("version")
            if version != 1 + deltas:
                failures.append(f"base stage {stage} at version {version}, "
                                f"expected {1 + deltas} after {deltas} "
                                f"promotes")
        for d in range(deltas):
            inc = self.stage_metrics(os.path.join(out, f"inc-{d}"))
            for stage in ("inc_docs", "inc_bands", "inc_candidates",
                          "inc_verified", "inc_assignments"):
                if stage not in inc:
                    failures.append(f"increment {d} stage {stage} not "
                                    f"committed")
        more, figures = self.cluster_check(
            os.path.join(out, f"clusters-{deltas - 1}"),
            self.expected_urims(include_deltas=True))
        return failures + more, figures

    # -- shared checks -----------------------------------------------------
    def expected_urims(self, include_deltas: bool) -> set:
        import pyarrow.parquet as pq

        table = pq.read_table(self.pages, columns=["url", "warc_ts"])
        urims = {urim_of(u, ts) for u, ts in zip(
            table.column("url").to_pylist(),
            table.column("warc_ts").to_pylist())}
        if include_deltas:
            from off_topic_memento_toolkit_spark.sources.warc import \
                extract_pages_from_warc_bytes

            for d in range(len(self.truth["delta_pages"])):
                path = os.path.join(self.corpus, f"delta-{d}",
                                    "batch.warc.gz")
                with open(path, "rb") as fh:
                    rows = extract_pages_from_warc_bytes(fh.read())
                urims.update(urim_of(r[0], r[1]) for r in rows)
        return urims

    def cluster_check(self, path: str, expected: set):
        """Every page once in the output; dup-pair recall and precision
        against the planted groups."""
        import pyarrow.parquet as pq

        table = pq.read_table(path, columns=["urim", "component"])
        urims = table.column("urim").to_pylist()
        component = dict(zip(urims, table.column("component").to_pylist()))
        failures = []
        if len(urims) != len(component):
            failures.append(f"{len(urims) - len(component)} urims listed "
                            f"more than once in the clusters")
        if set(component) != expected:
            failures.append(
                f"clusters cover {len(set(component) & expected)} of "
                f"{len(expected)} input pages and {len(set(component) - expected)} "
                f"unknown ids")
        sizes = {}
        for c in component.values():
            sizes[c] = sizes.get(c, 0) + 1
        clustered_pairs = sum(n * (n - 1) // 2 for n in sizes.values())
        planted = hit = 0
        for group in self.truth["dup_groups"]:
            for i, a in enumerate(group):
                for b in group[i + 1:]:
                    planted += 1
                    if a in component and component.get(a) == component.get(b):
                        hit += 1
        recall = hit / planted if planted else 1.0
        precision = hit / clustered_pairs if clustered_pairs else 0.0
        if recall < RECALL_TARGET:
            log(f"note: dup-pair recall {recall:.4f} is below the "
                f"{RECALL_TARGET} target ({hit} of {planted} planted pairs)")
        return failures, {"truth_recall": recall, "truth_precision": precision,
                          "planted_pairs": planted,
                          "clustered_pairs": clustered_pairs}

    def commands(self, k: int) -> tuple:
        """(input pages, argv of each CLI operation) of pass ``k``, whose
        outputs go to a fresh ``out/<k>/``."""
        out = os.path.join(self.out, str(k))
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        return {"offtopic_timelines": self.offtopic_commands,
                "neardup_crawl": self.neardup_commands,
                "ingest_promote": self.ingest_commands}[self.name](out)

    def iteration(self, k: int) -> dict:
        pages, commands = self.commands(k)
        return {"pages": pages,
                "ops": [(argv[0], self.run_cli(argv)) for argv in commands]}

    def check(self, k: int):
        return {"offtopic_timelines": self.offtopic_check,
                "neardup_crawl": self.neardup_check,
                "ingest_promote": self.ingest_check}[self.name](k)


# the operation whose median wall time op_p50_s reports, per workload
HEADLINE_OP = {"offtopic_timelines": "detect", "neardup_crawl": "dedup",
               "ingest_promote": "ingest"}


def measure(workload: Workload, seconds: float) -> dict:
    """Repeat the operation sequence for about ``seconds``, at least once;
    a pass is not started when the previous one says it would end past the
    budget."""
    from procsampler import TreeSampler

    attempted = 0
    iterations = []
    sampler = TreeSampler(os.getpid()).start()
    t_start = time.perf_counter()
    try:
        while True:
            attempted += 1
            t0 = time.perf_counter()
            iterations.append(workload.iteration(len(iterations) + 1))
            elapsed = time.perf_counter() - t_start
            if elapsed + 0.5 * (time.perf_counter() - t0) >= seconds:
                break
    finally:
        sampler.stop()
    wall = time.perf_counter() - t_start
    pages = sum(it["pages"] for it in iterations)
    per_iter = [it["pages"] / sum(s for _, s in it["ops"])
                for it in iterations]
    headline = [s for it in iterations for op, s in it["ops"]
                if op == HEADLINE_OP[workload.name]]
    # peak RSS is logged, not reported: it swings by the number of idle
    # Python workers alive (IQR/median up to 0.33 over ten ingest_promote
    # runs), wider than any bound the benchmark may set
    log(f"{workload.name}: {len(iterations)} passes in {wall:.1f}s; "
        f"peak RSS {sampler.peak_rss_mb:.0f} MB; "
        f"ops = {[[(op, round(s, 2)) for op, s in it['ops']] for it in iterations]}")
    return {
        "last": len(iterations), "attempted": attempted,
        "metrics": {
            "pages_per_s": (statistics.median(per_iter), "1/s"),
            "cpu_s_per_kpage": (sampler.cpu_s / (pages / 1000.0), "s"),
            "op_p50_s": (statistics.median(headline), "s"),
        },
    }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "off_topic_memento_toolkit_spark")):
        log("error: run from the root of a sparkotmt checkout (the "
            "off_topic_memento_toolkit_spark package is not here)")
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_environment(work, cpus)
    corpus_dir = os.path.join(work, "corpus")
    truth = generate(args.workload, args.seed, corpus_dir)

    if args.trace:
        import tracing

        result = tracing.traced_run(args.workload, work, corpus_dir, truth,
                                    cpus)
    else:
        warmup = None
        if args.workload in WARMUP_WORKLOADS:
            warmup_dir = os.path.join(work, "warmup")
            warmup = (warmup_dir, generate(args.workload, -1 - args.seed,
                                           warmup_dir, scale=WARMUP_SCALE))
        result = untraced_run(args.workload, work, corpus_dir, truth, cpus,
                              args.seconds, warmup)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] and not result["failed"] else 1


def untraced_run(name, work, corpus_dir, truth, cpus, seconds,
                 warmup) -> dict:
    """Set-up (session, first job, warm-up), the measured passes, the
    output checks; ``warmup`` is the warm-up corpus's (dir, truth), or
    None."""
    t0 = time.perf_counter()
    spark, cli, _ = start_session(work, cpus)
    try:
        workload = Workload(name, corpus_dir, os.path.join(work, "out"),
                            truth, cli, spark)
        attempted, failed, failures, figures = 1, 0, [], {}
        try:
            if warmup:
                Workload(name, warmup[0], os.path.join(work, "warmup-out"),
                         warmup[1], cli, spark).iteration(0)
            setup_s = time.perf_counter() - t0
            measured = measure(workload, seconds)
        except Exception as exc:  # noqa: BLE001 — reported, run fails
            log(f"operation failed: {exc!r}")
            return {"correct": False, "attempted": attempted, "failed": 1,
                    "metrics": {}}
        attempted = measured["attempted"]
        failures, figures = workload.check(measured["last"])
        for failure in failures:
            log(f"check failed: {failure}")
        failed = 1 if failures else 0
        log(f"{name}: " + json.dumps(figures))
        metrics = {"setup_s": (setup_s, "s"), **measured["metrics"],
                   "truth_recall": (figures["truth_recall"], "share"),
                   "truth_precision": (figures["truth_precision"], "share")}
        return {
            "correct": not failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        stop_session(spark)


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process started under this one (JVM, Python daemon and workers) ended."""
    from pyspark import SparkContext

    from procsampler import tree_pids

    started = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(map(alive, started)):
        time.sleep(0.1)


def alive(pid: int) -> bool:
    """Running or sleeping; an exited process awaiting its reaper is not."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2:][:1] not in (b"Z", b"X")


if __name__ == "__main__":
    sys.exit(main())
