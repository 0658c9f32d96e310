"""End-to-end extraction benchmark for pdf_spark.

    python3 perfbench/run.py --workload small_mixed --seed 1 --seconds 10 --trace 0

Drives the deployment path ``pdf_spark.operators.pipeline.run_extraction``
(scan, resume anti-join, fused mapInArrow extract, parquet sink, lineage)
on ``local[nproc]`` through the unmodified ``pdf_spark.session``. The
corpus is generated from the seed before anything is timed (see
``corpus.py``); every timed call is a closed loop of one ``run_extraction``
at a time, and its output is checked row by row against the generator.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the traced
single-process pass over the core layers (``layers.py``) and times each
Spark-side layer as its own action. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before
it is the full run record. All scratch data stays under
``.perfbench_work/`` in the checkout.

Workloads:
- small_mixed: ~1 KB docs over the whole generator variant cadence,
  including a corrupt doc every 64th row. Per-doc fixed costs dominate and
  the executor font cache stays hot.
- heavy_multipage: 24-48 page PDFs with Flate content, xref streams and
  object streams, and fonts unique to each document (cache cold, checked
  in every worker after timing), plus a long HTML article every 16th doc.
  Tokenize, interpret and decode dominate.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("small_mixed", "heavy_multipage")
# The first run_extraction calls of a session run slower while the JVM
# warms up (measured: 5.2, 4.4, 3.7, then 3.3-3.5 s on 6000 small docs);
# one untimed call takes the worst of it out of the timed sample.
WARM_CALLS = 1
MIN_TIMED = 5  # timed run_extraction calls per run, at least
TRACE_TIMED = 2
LAYER_REPS = 3
TRACE_SAMPLE = {"small_mixed": 600, "heavy_multipage": 16}
TRACE_ROUNDS = 4


def launch_env(nproc: int) -> None:
    """Environment for this process, the JVM and the Python workers: workers
    import pdf_spark from the checkout whatever the cwd, use this
    interpreter, and keep every scratch file inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVM's temp files and perf-data file would otherwise land in /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    sys.path.insert(0, ROOT)


def url_len(batches):
    """Identity-weight mapInArrow: (url, len(html)), no parsing."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        yield pa.RecordBatch.from_arrays(
            [b.column(0), pc.binary_length(b.column(1)).cast(pa.int64())],
            names=["url", "len"],
        )


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, corpus_dir: str):
        import corpus

        self.workload = workload
        self.seconds = seconds
        self.corpus_dir = corpus_dir
        self.pages_dir = os.path.join(corpus_dir, "pages")
        self.meta = corpus.load_meta(corpus_dir)
        self.expected = corpus.load_expected(corpus_dir)
        self.input_urls = set(self._urls("pages"))
        self.run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self._n_out = 0

    def _urls(self, sub: str) -> list[str]:
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(self.corpus_dir, sub), columns=["url"]).column(0).to_pylist()

    def out_dir(self) -> str:
        self._n_out += 1
        return os.path.join(self.run_dir, f"out{self._n_out}")

    # -- Spark ---------------------------------------------------------------

    def extract(self, src: str, out: str) -> dict:
        from pdf_spark.operators.pipeline import run_extraction

        return run_extraction(self.spark, self.spark.read.parquet(src), out)

    def stage_tasks(self, group: str) -> int:
        """Widest stage of a job group: the extract stage, which runs one
        task per input split; the lineage stages after it are coalesced."""
        st = self.spark.sparkContext.statusTracker()
        tasks = [0]
        for j in st.getJobIdsForGroup(group):
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si:
                    tasks.append(si.numTasks)
        return max(tasks)

    # -- correctness ---------------------------------------------------------

    def verify(self, what: str, urls: set[str], *parts: str) -> float:
        """Check that ``parts`` (sink partition or sink directories) hold
        exactly one row per url of ``urls`` and nothing else, each equal to
        the generator's (status, error_code, text). Returns mismatch_frac."""
        import pyarrow.parquet as pq

        seen: dict[str, list] = {}
        for p in parts:
            t = pq.read_table(p, columns=["url", "status", "error_code", "text"]).to_pydict()
            for u, s, c, x in zip(t["url"], t["status"], t["error_code"], t["text"]):
                seen.setdefault(u, []).append((s, c, x))
        bad = [u for u in urls if seen.get(u) != [self.expected[u]]]
        bad += [u for u in seen if u not in urls]
        self.attempted += len(urls)
        self.failed += len(bad)
        if bad:
            u = bad[0]
            self.problems.append(
                f"{what}: {len(bad)} of {len(urls)} rows wrong; first {u}: "
                f"got {str(seen.get(u))[:160]} want {str(self.expected.get(u))[:160]}"
            )
        return len(bad) / len(urls)

    # -- phases --------------------------------------------------------------

    def setup(self) -> float:
        """Session start plus the first, cold run_extraction on the
        warm-up slice. Called once per process, so it launches the JVM."""
        from pdf_spark.session import spark_session

        out = self.out_dir()
        t0 = time.perf_counter()
        self.spark = spark_session()
        self.spark.sparkContext.setLogLevel("ERROR")
        summary = self.extract(os.path.join(self.corpus_dir, "warmup"), out)
        dt = time.perf_counter() - t0
        self.verify("warm-up", set(self._urls("warmup")), run_partition(summary))
        shutil.rmtree(out)
        return dt

    def timed(self, k: int, keep: bool = False):
        """One timed run_extraction over the whole input into a fresh sink,
        checked afterwards. Returns ``(wall_s, stage_tasks, mismatch_frac,
        out_dir, summary)``."""
        out = self.out_dir()
        group = f"timed-{k}"
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        summary = self.extract(self.pages_dir, out)
        wall = time.perf_counter() - t0
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        tasks = self.stage_tasks(group)
        mis = self.verify(f"timed {k}", self.input_urls, run_partition(summary))
        if not keep:
            shutil.rmtree(out)
        return wall, tasks, mis, out, summary

    def worker_rss_peak_mb(self) -> float:
        """Largest VmHWM among this process's pyspark worker descendants."""
        peak = 0
        for pid in descendants(os.getpid()):
            if not _is_pyspark_daemon(pid):
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peak = max(peak, int(line.split()[1]))
            except OSError:
                continue
        return peak / 1024.0

    def check_workers_cold(self, record: dict) -> None:
        """heavy_multipage runs cache-cold only if every Python worker had
        its font cache filled by warm-up fonts before it saw a timed doc.
        Asks each worker, one probe task holding it while the others run,
        how many of the timed docs' fonts it has cached; each must be 0."""
        import corpus

        family = corpus.TIMED_FONT

        def probe(batches):
            import pyarrow as pa

            for _ in batches:
                pass
            time.sleep(0.5)  # keep this worker busy so the next task gets another
            n, timed = font_cache_state(family)
            yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "cached": [n], "timed": [timed]})

        workers = python_workers()
        n = self.spark.sparkContext.defaultParallelism
        seen = {}
        for _ in range(3):
            df = self.spark.range(0, n, 1, n).mapInArrow(probe, "pid long, cached long, timed long")
            seen.update((r.pid, (r.cached, r.timed)) for r in df.collect())
            if workers <= seen.keys():
                break
        record["worker_font_caches"] = {str(p): seen.get(p) for p in sorted(workers)}
        if not workers:
            self.problems.append("no pyspark worker processes found to probe")
        for p in sorted(workers):
            if p not in seen:
                self.problems.append(f"worker {p}: not reached by the font cache probe")
            elif seen[p][1]:
                self.problems.append(
                    f"worker {p}: {seen[p][1]} of {seen[p][0]} cached fonts belong to timed docs"
                )

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def run_partition(summary: dict) -> str:
    """The sink directory holding one run_extraction call's rows."""
    return os.path.join(summary["docs_path"], f"run_id={summary['run_id']}")


def font_cache_state(family: str) -> tuple[int, int]:
    """Fonts in this process's executor font cache, and how many of them
    are of ``family``."""
    from pdf_spark.core import fonts

    cached = list(fonts._FONT_CACHE.values())
    return len(cached), sum(f.base_font.endswith(family) for f in cached)


def _parents() -> dict[int, int]:
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return parent


def _is_pyspark_daemon(pid: int) -> bool:
    """The pyspark daemon and the workers it forks share its command line."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def python_workers() -> set[int]:
    """The live pyspark worker processes under this one: the daemon's forks."""
    parent = _parents()
    return {
        p for p in descendants(os.getpid(), parent)
        if _is_pyspark_daemon(p) and _is_pyspark_daemon(parent[p]) and not _zombie(p)
    }


def descendants(root: int, parent: dict[int, int] | None = None) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in (parent or _parents()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway JVM and wait for it and every process under
    this one to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = [p for p in descendants(os.getpid()) if not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running: {alive}")


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return True
    return stat[stat.rindex(")") + 2] == "Z"


def git_sha() -> str | None:
    try:
        top = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = top.stdout.split()
    if top.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def source_sha() -> str:
    """Digest of the package sources, for checkouts without git."""
    import hashlib

    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "pdf_spark"))):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def run_e2e(b: Bench, record: dict) -> dict:
    # One set-up per run: each launches a fresh JVM (~20-25 s on 4 cores),
    # so setup_s samples come one per run and its median is taken across
    # runs; several per run would not fit the time a full pass may take.
    setup = b.setup()
    for k in range(WARM_CALLS):
        b.timed(-1 - k)
    walls, tasks, mis = [], [], []
    deadline = time.monotonic() + b.seconds
    while len(walls) < MIN_TIMED or time.monotonic() < deadline:
        w, t, m, _, _ = b.timed(len(walls))
        walls.append(w)
        tasks.append(t)
        mis.append(m)
    rss = b.worker_rss_peak_mb()
    if b.workload == "heavy_multipage":
        b.check_workers_cold(record)
    n, mb = b.meta["docs"], b.meta["payload_bytes"] / 1e6
    wall, slow = statistics.median(walls), max(walls)
    # with under 20 samples no percentile above the median has ten samples
    # beyond it, so the record gives the median and the slowest sample (p100)
    record.update(
        timed_walls_s=walls,
        extract_stage_tasks=tasks,
        mismatch_frac=max(mis),
        docs_per_s={"median": n / wall, "p100": n / slow, "n": len(walls)},
        payload_mb_per_s={"median": mb / wall, "p100": mb / slow, "n": len(walls)},
        setup_s={"median": setup, "p100": setup, "n": 1},
    )
    return {
        "docs_per_s": {"value": n / wall, "unit": "docs/s"},
        "payload_mb_per_s": {"value": mb / wall, "unit": "MB/s"},
        "setup_s": {"value": setup, "unit": "s"},
        "worker_rss_peak_mb": {"value": rss, "unit": "MB"},
    }


def run_traced(b: Bench, record: dict, nproc: int) -> dict:
    import corpus
    import layers

    rows = corpus.read_payloads(b.pages_dir)[: TRACE_SAMPLE[b.workload]]
    warm = corpus.read_payloads(os.path.join(b.corpus_dir, "warmup"))
    core, problems = layers.run_pass(
        [p for _, p in rows], [b.expected[u] for u, _ in rows], [p for _, p in warm], TRACE_ROUNDS
    )
    b.attempted += len(rows) * TRACE_ROUNDS
    b.failed += len(problems)
    b.problems += problems
    if b.workload == "heavy_multipage":
        # the warm-up filled this process's font cache, as in the workers
        cached, timed = font_cache_state(corpus.TIMED_FONT)
        record["driver_font_cache"] = (cached, timed)
        if timed:
            b.problems.append(f"traced pass: {timed} of {cached} cached fonts belong to timed docs")

    from pyspark.sql import functions as F

    from pdf_spark.operators.extract import extract_docs_text
    from pdf_spark.operators.lineage import lineage_rows, remaining_pages, tag_lineage_cols

    b.setup()
    for k in range(WARM_CALLS):
        b.timed(-1 - k)
    walls, tasks, mis = [], [], []
    for k in range(TRACE_TIMED):
        w, t, m, out, summary = b.timed(k, keep=True)
        walls.append(w)
        tasks.append(t)
        mis.append(m)
    docs_per_s = b.meta["docs"] / statistics.median(walls)
    spark = b.spark
    docs_path, rid = summary["docs_path"], summary["run_id"]

    def pages():
        return spark.read.parquet(b.pages_dir)

    def written():
        return spark.read.parquet(docs_path).where(F.col("run_id") == rid).drop("run_id")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    sink_dir = os.path.join(b.run_dir, "layer_sink")
    actions = {
        "sources.scan_s": lambda: noop(pages().select("url", "html")),
        "operators.arrow_roundtrip_s": lambda: noop(
            pages().select("url", "html").mapInArrow(url_len, "url string, len long")
        ),
        "operators.extract_stage_s": lambda: noop(extract_docs_text(pages())),
        "operators.pipeline.sink_write_s": lambda: written()
        .select("url", "text", "status", "error_code", "n_pages", "n_spans")
        .withColumn("run_id", F.lit(rid))
        .write.mode("append").partitionBy("run_id").parquet(sink_dir),
        # against the committed sink of the last timed call
        "operators.lineage.resume_s": lambda: noop(
            remaining_pages(tag_lineage_cols(pages()), spark, out)
        ),
        "operators.lineage.lineage_rows_s": lambda: noop(lineage_rows(written(), rid)),
    }
    metrics = {}
    for name, action in actions.items():
        times = []
        for _ in range(LAYER_REPS):
            t0 = time.perf_counter()
            action()
            times.append(time.perf_counter() - t0)
        metrics[name] = statistics.median(times)
    core["spark.per_core_efficiency"] = docs_per_s / (nproc * core["core.ceiling_docs_per_s"])
    core.update(metrics)
    record.update(
        trace_sample_docs=len(rows),
        timed_walls_s=walls,
        extract_stage_tasks=tasks,
        mismatch_frac=max(mis),
        docs_per_s=docs_per_s,
    )
    units = {m["name"]: m["unit"] for m in per_layer_spec()}
    return {k: {"value": v, "unit": units[k]} for k, v in core.items()}


def per_layer_spec() -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pdf_spark")):
        print(f"pdf_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    launch_env(nproc)

    import pyspark

    import corpus

    load_before = os.getloadavg()
    t0 = time.perf_counter()
    corpus_dir = corpus.build(args.workload, args.seed, os.path.join(WORK, "corpus"))
    gen_s = time.perf_counter() - t0
    b = Bench(args.workload, args.seed, args.seconds, corpus_dir)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "git_sha": git_sha(),
        "source_sha": source_sha(),
        "pyspark": pyspark.__version__,
        "generator": b.meta["generator"],
        "docs": b.meta["docs"],
        "payload_bytes": b.meta["payload_bytes"],
        "corpus_s": gen_s,
    }
    try:
        if args.trace:
            metrics = run_traced(b, record, nproc)
        else:
            metrics = run_e2e(b, record)
    finally:
        b.stop()
        shutdown_jvm()
        shutil.rmtree(b.run_dir, ignore_errors=True)
    record.update(loadavg_before=load_before, loadavg_after=os.getloadavg(), problems=b.problems[:20])
    record["metrics"] = metrics
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(
        os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"), "w"
    ) as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": b.failed == 0 and not b.problems,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
