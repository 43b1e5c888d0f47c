"""KG-construction benchmark: generates seeded inputs, runs one workload
through the program's user-facing entry points, checks the outputs and
prints one JSON result line.

    python3 perfbench/run.py --workload build_clinical --seed 1 --seconds 30 --trace 0

Run it from anywhere; it finds the program next to its own directory
and writes only under ``.perfbench_work/`` (inputs, outputs, Spark
scratch; removed at exit) and ``.perfbench_out/`` (span files of traced
runs) at the root of that checkout. The exit status is 0 only when
every output check passed.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. perfbench/README.md lists the
workloads, metrics and which layer metric moves which end-to-end metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from tracing import SparkCounters, Tracer  # noqa: E402

WORKLOADS = ("build_clinical", "kg_report")
N_BUCKETS = 256          # jobs/annotate_corpus.py --n-buckets default
SETUP_REPEATS = 3        # JVM + session start, ontology load, input read
LAYERS = ("corpus", "candidates", "dict_link", "spans", "canonicalize")
# Spark's own default driver heap, pinned with -Xms: the heap is then not
# resized mid-run, so peak RSS measures what the program adds around it
# (driver Python, JVM off-heap) instead of when the JVM chose to grow.
DRIVER_MEMORY = "1g"
ROOT_ID = "HP:0000118"
KG_FUNCS = {
    "phenobert_spark.operators.kg_metrics": (
        "concept_information_content", "pagerank", "label_propagation",
        "personalized_pagerank", "graph_summary", "link_prediction", "hyperball",
    ),
    "phenobert_spark.operators.entity_resolution": (
        "negative_sample_triples", "pool_evidence",
    ),
    "phenobert_spark.operators.schema": ("validate_shapes", "schema_graph"),
}
KG_LAYER = {
    "concept_information_content": "concept_ic", "pagerank": "pagerank",
    "label_propagation": "label_propagation",
    "personalized_pagerank": "personalized_pagerank",
    "graph_summary": "graph_summary", "link_prediction": "link_prediction",
    "hyperball": "hyperball",
}


def load_spec() -> dict:
    """Metric names and units come from BENCHMARK.json, next to perfbench/."""
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as fh:
        return json.load(fh)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- process environment -----------------------------------------------------

def prepare_env(work: Path, reference_root: str) -> None:
    """Everything the program or Spark writes lands under ``work``; the
    Python workers find the program through PYTHONPATH."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    tempfile.tempdir = str(tmp)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        # no JVM perf-data files outside the checkout: the launcher JVM
        # gets the flag here, the driver JVM through extraJavaOptions
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=str(tmp),
        PHENOBERT_REFERENCE_ROOT=reference_root,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        PYTHONPATH=os.pathsep.join(paths),
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: Path, cores: int):
    from phenobert_spark.config import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=n_cores(),
        extra={
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
            ),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(stat.parent.name))
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and that JVM's Python
    workers, and wait until each process has ended."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    workers = _children(jvm.pid) if jvm is not None else []
    spark.stop()
    if jvm is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    jvm.terminate()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if Path(f"/proc/{p}").exists()]
        time.sleep(0.1)
    for p in workers:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def peak_rss_mb(spark) -> float:
    """VmHWM of this driver process plus the Spark JVM it launched."""

    def hwm_kb(pid: int) -> int:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    driver = hwm_kb(os.getpid())
    jvm = spark.sparkContext._gateway.proc
    java = hwm_kb(jvm.pid) if jvm is not None else 0
    log(f"VmHWM: driver {driver / 1024:.0f} MB, JVM {java / 1024:.0f} MB")
    return (driver + java) / 1024


# -- output checks -----------------------------------------------------------

def read_contents(path: str) -> dict[str, str]:
    """sha256(content) -> content, computed here (not by the program)."""
    import pyarrow.parquet as pq

    contents = pq.read_table(path, columns=["content"]).column("content").to_pylist()
    return {hashlib.sha256(c.encode("utf-8")).hexdigest(): c for c in contents}


def read_gold_pairs(path: str) -> set[tuple[str, str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "hpo_id"])
    return set(zip(t.column("doc_id").to_pylist(), t.column("hpo_id").to_pylist()))


def pr(pred: set, gold: set) -> tuple[float, float]:
    tp = len(pred & gold)
    return (tp / len(pred) if pred else 0.0, tp / len(gold) if gold else 0.0)


def digest(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


def check_graph(spark, out: Path, contents: dict[str, str], gold: set, n_docs: int) -> dict:
    """Checks on a materialized graph: every triple's mention equals
    content[start:end] of the document whose sha256 is its doc_id, and
    the manifest covers every input document. Returns the problems
    found, the triple-set digest and doc-level precision/recall."""
    rows = (
        spark.read.parquet(str(out / "triples"))
        .select("doc_id", "hpo_id", "start", "end", "mention", "negated", "score")
        .collect()
    )
    problems = []
    bad = 0
    for r in rows:
        content = contents.get(r.doc_id)
        if content is None or content[r.start:r.end] != r.mention:
            bad += 1
    if bad:
        problems.append(f"{bad} triples whose doc_id/mention do not match content")
    manifest_docs = (
        spark.read.parquet(str(out / "manifest")).groupBy().sum("n_docs").collect()[0][0]
    )
    if manifest_docs != n_docs:
        problems.append(f"manifest covers {manifest_docs} docs, input has {n_docs}")
    pred = {(r.doc_id, r.hpo_id) for r in rows if not r.negated}
    precision, recall = pr(pred, gold)
    return {"problems": problems, "digest": digest(rows), "precision": precision,
            "recall": recall}


def expected_ic(reference_root: str, gold_path: str) -> set[tuple[str, int]]:
    """(concept, n_docs) rows concept_ic must hold: docs annotated at a
    concept or below it, over the concept -> Layer-1 -> root DAG the
    shipped TSVs define. Parsed here from the generated files."""
    src = Path(reference_root) / "phenobert" / "models" / "train_source"
    anc: dict[str, set[str]] = {}
    for i in range(len(os.listdir(src))):
        with open(src / f"train_{i}.txt", encoding="utf-8") as fh:
            for line in fh:
                hpo = line.rstrip("\n").split("\t")[1]
                anc.setdefault(hpo, {hpo, ROOT_ID}).add(f"HP:L1_{i:02d}")
    docs_at: dict[str, set[str]] = {}
    for doc, hpo in read_gold_pairs(gold_path):
        for a in anc[hpo]:
            docs_at.setdefault(a, set()).add(doc)
    return {(c, len(d)) for c, d in docs_at.items()}


def check_report(spark, out: Path, expected: set) -> dict:
    ic = {(r.concept, r.n_docs) for r in spark.read.parquet(str(out / "concept_ic")).collect()}
    problems = []
    if ic != expected:
        problems.append(
            f"concept_ic differs from gold: {len(ic - expected)} extra, "
            f"{len(expected - ic)} missing rows"
        )
    precision, recall = pr(ic, expected)
    return {"problems": problems, "precision": precision, "recall": recall}


def snapshot(path: Path) -> dict[str, tuple[int, int]]:
    """Data files under ``path`` -> (size, mtime_ns)."""
    out = {}
    for p in path.rglob("*.parquet"):
        st = p.stat()
        out[str(p.relative_to(path))] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(path: Path, before: dict) -> tuple[int, int]:
    """(files, bytes) of data files created or rewritten since ``before``."""
    new = [v for k, v in snapshot(path).items() if before.get(k) != v]
    return len(new), sum(size for size, _ in new)


# -- the benchmark -----------------------------------------------------------

class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.tracer = Tracer()
        self.layer: dict[str, float] = {}
        self.failures: list[str] = []
        self.per_layer = [x["name"] for x in load_spec()["per_layer"]]

    def setup(self) -> None:
        """Session start (a new JVM), ontology load and input read,
        SETUP_REPEATS times, the median reported; the last session
        stays. Its ontology goes to the timed call untouched: like
        jobs/annotate_corpus.py, the call builds the dictionary and
        vocabulary itself. The traced run does not report setup_s and
        must fit its time limit, so it sets up once."""
        from phenobert_spark.config import PipelineConfig
        from phenobert_spark.ontology import get_ontology
        from phenobert_spark.sources.tables import read_documents

        self.cfg = PipelineConfig(chunk_target_bytes=gen.CHUNK_TARGET_BYTES)
        totals, loads = [], []
        with self.tracer.span("setup"):
            for i in range(1 if self.args.trace else SETUP_REPEATS):
                if i:
                    stop_spark(self.spark)
                t0 = time.perf_counter()
                with self.tracer.span("session"):
                    self.spark = start_spark(self.work, n_cores())
                with self.tracer.span("ontology"):
                    t1 = time.perf_counter()
                    self.onto = get_ontology()
                    loads.append(time.perf_counter() - t1)
                with self.tracer.span("input"):
                    if self.args.workload == "kg_report":
                        self.docs = self.spark.read.parquet(self.info["triples"])
                    else:
                        self.docs = read_documents(self.spark, self.info["docs"])
                totals.append(time.perf_counter() - t0)
        log(f"set-ups: {[round(x, 3) for x in totals]}")
        self.setup_s = statistics.median(totals)
        self.layer["ontology.load_s"] = statistics.median(loads)

    @staticmethod
    def fresh_onto():
        """A newly loaded ontology, as each spark-submit of
        jobs/annotate_corpus.py gets one: nothing cached on it."""
        from phenobert_spark.ontology import get_ontology

        return get_ontology()

    # -- calls, made the way jobs/annotate_corpus.py and jobs/kg_metrics.py
    #    make them; nothing pre-built is passed in
    def call_build(self, out: Path, onto) -> dict:
        from phenobert_spark.materialize import run_with_checkpoint

        res = run_with_checkpoint(
            self.spark, self.docs, onto, str(out), self.cfg, n_buckets=N_BUCKETS
        )
        if res["processed"] != N_BUCKETS:
            raise RuntimeError(f"processed {res['processed']} of {N_BUCKETS} buckets")
        return res

    def call_report(self, out: Path) -> None:
        import jobs.kg_metrics as kg_job

        kg_job.main(["--triples", self.info["triples"], "--output", str(out)], spark=self.spark)

    def check(self, out: Path) -> dict:
        if self.args.workload == "kg_report":
            return check_report(self.spark, out, self.expected)
        return check_graph(self.spark, out, self.contents, self.gold, self.n_docs)

    # -- one run --------------------------------------------------------------
    def run(self) -> dict:
        a = self.args
        with self.tracer.span("generate"):
            self.info = gen.generate(a.workload, a.seed, str(self.work / "inputs"))
        prepare_env(self.work, self.info["reference_root"])
        log(f"{a.workload} seed={a.seed}: " + json.dumps(
            {k: v for k, v in self.info.items() if isinstance(v, int) and k != "seed"}
        ))
        try:
            self.setup()
            if a.workload == "kg_report":
                self.expected = expected_ic(self.info["reference_root"], self.info["gold"])
            else:
                self.contents = read_contents(self.info["docs"])
                self.gold = read_gold_pairs(self.info["gold"])
                self.n_docs = self.info["n_docs"]
            if a.trace:
                return self.traced()
            result = self.timed()
            result["metrics"]["peak_rss_mb"] = peak_rss_mb(self.spark)
            return result
        finally:
            if getattr(self, "spark", None) is not None:
                stop_spark(self.spark)

    def timed(self) -> dict:
        """One cold call, as one spark-submit of jobs/annotate_corpus.py
        or jobs/kg_metrics.py makes it, then its (untimed) output
        checks. Later calls in the same JVM keep getting faster for
        several calls (JIT), so repeats within a run would measure a
        warm program; the medians over runs do the smoothing."""
        out = self.work / "out" / "timed"
        t = time.perf_counter()
        with self.tracer.span("call"):
            if self.args.workload == "kg_report":
                self.call_report(out)
            else:
                self.call_build(out, self.onto)
        wall_s = time.perf_counter() - t
        chk = self.check(out)
        for p in chk["problems"]:
            log(f"check failed: {p}")
        failed = 1 if chk["problems"] else 0
        n_docs = self.info["n_docs"]
        metrics = {
            "setup_s": self.setup_s,
            "wall_s": wall_s,
            "docs_per_s": n_docs / wall_s,
            "precision": chk["precision"],
            "recall": chk["recall"],
            "success_rate": 1.0 - failed,
        }
        return {"correct": not failed, "attempted": 1, "failed": failed, "metrics": metrics}

    # -- traced run -----------------------------------------------------------
    def traced(self) -> dict:
        """One instrumented call of the workload, its layer split, and
        the same output checks as the timed run. Layers the workload
        does not run report 0."""
        a = self.args
        m = self.layer
        m.update({k: 0.0 for k in self.per_layer if k not in m})
        if a.workload == "kg_report":
            self.dictionary_layer()
            chk = self.traced_report(self.work / "out" / "traced")
        else:
            chk = self.traced_build()
        problems = chk["problems"] + self.failures
        for p in problems:
            log(f"traced run check failed: {p}")
        self.tracer.write(str(ROOT / ".perfbench_out" / f"spans-{a.workload}-{a.seed}.jsonl"))
        return {"correct": not problems, "attempted": 1, "failed": 1 if problems else 0,
                "metrics": {k: m[k] for k in self.per_layer}}

    def dictionary_layer(self):
        """Time the dictionary DataFrame and pruning vocabulary that
        every annotate() call builds on a fresh ontology, on a throwaway
        instance; return that instance with both now cached on it."""
        cfg, m = self.cfg, self.layer
        onto = self.fresh_onto()
        with self.tracer.span("dictionary"):
            t0 = time.perf_counter()
            dict_df = onto.dict_df(
                self.spark,
                syn_min_count=cfg.syn_tier_min_count,
                syn_phrase_min_count=cfg.syn_phrase_min_count,
                drop_one=cfg.drop_one_dict,
            )
            t1 = time.perf_counter()
            vocab = onto.prune_vocab(
                syn_min_count=cfg.syn_tier_min_count,
                syn_phrase_min_count=cfg.syn_phrase_min_count,
            )
            t2 = time.perf_counter()
        m.update({
            "ontology.dict_df_s": t1 - t0,
            "ontology.prune_vocab_s": t2 - t1,
            "ontology.dict_rows": dict_df.count(),
            "ontology.vocab_tokens": len(vocab.base) + len(vocab.stems),
        })
        return onto

    def traced_build(self) -> dict:
        """build_clinical. The traced build is the run's first call, cold
        as in the timed run, and warms the JVM for the rest: the delta
        ingest of the v2 snapshot over the built graph, a fresh build of
        v2 (checked against the delta graph and timed warm), the layer
        split on v2 and the local[1] scaling run of the same build."""
        from phenobert_spark.sources.tables import read_documents

        spark, m = self.spark, self.layer
        out = self.work / "out" / "traced"
        counters = SparkCounters(spark)
        counters.mark()
        with self.tracer.span("call"):
            self.call_build(out, self.onto)
        m.update(counters.since_mark())
        m["materialize.files_written"], m["materialize.bytes_written"] = written_since(out, {})
        chk = self.check(out)

        self.docs = read_documents(spark, self.info["docs_v2"])
        self.contents = read_contents(self.info["docs_v2"])
        self.gold = read_gold_pairs(self.info["gold_v2"])
        self.n_docs = self.info["n_docs_v2"]
        delta = self.traced_delta(out)
        fresh = self.work / "out" / "fresh_v2"
        t = time.perf_counter()
        with self.tracer.span("fresh_v2_build"):
            self.call_build(fresh, self.fresh_onto())
        build_s = time.perf_counter() - t
        ref = check_graph(spark, fresh, self.contents, self.gold, self.n_docs)
        self.failures += delta["problems"] + ref["problems"]
        if ref["digest"] != delta["digest"]:
            self.failures.append("graph after annotate_delta differs from a fresh build of v2")
        self.traced_layers(self.dictionary_layer(), build_s, ref["digest"])
        self.scaling(build_s)
        return chk

    def traced_layers(self, onto, build_s: float, build_digest: str) -> None:
        """Compose the layer calls in pipeline.annotate order, forcing
        each prefix with a noop write; a layer's self time is the
        difference between successive prefixes. An untraced annotate()
        is timed first. ``onto`` has its dictionary built already, so
        neither side pays for it here."""
        from pyspark.sql import Observation, Window
        from pyspark.sql import functions as F

        from phenobert_spark.canonicalize import canonicalize_ids
        from phenobert_spark.corpus import chunked, with_doc_id
        from phenobert_spark.operators.candidates import generate_candidates
        from phenobert_spark.operators.dict_link import dictionary_link
        from phenobert_spark.operators.spans import keep_maximal_spans
        from phenobert_spark.pipeline import annotate

        spark, cfg, m = self.spark, self.cfg, self.layer

        vocab_bc = spark.sparkContext.broadcast(
            onto.prune_vocab(
                syn_min_count=cfg.syn_tier_min_count,
                syn_phrase_min_count=cfg.syn_phrase_min_count,
            )
        )

        def compose(upto: str):
            """The pipeline through layer ``upto``, built from scratch as
            annotate() builds it on every call, so each prefix also pays
            its own DataFrame construction and planning."""
            docs = with_doc_id(self.docs)
            nparts = cfg.candidate_partitions or int(
                spark.conf.get("spark.sql.shuffle.partitions")
            )
            df = chunked(
                docs.select("doc_id", "content"), cfg.chunk_target_bytes
            ).repartition(nparts, "doc_id", "chunk_id")
            if upto == "corpus":
                return df
            df = generate_candidates(df, cfg.max_kmer_len, vocab_bc=vocab_bc)
            if upto == "candidates":
                return df
            dict_df = onto.dict_df(
                spark,
                syn_min_count=cfg.syn_tier_min_count,
                syn_phrase_min_count=cfg.syn_phrase_min_count,
                drop_one=cfg.drop_one_dict,
            )
            df = dictionary_link(
                df, dict_df,
                has_syn_tier=cfg.syn_tier_min_count is not None,
                has_drop_one=cfg.drop_one_dict,
            ).filter(F.col("hpo_id").isNotNull())
            if upto == "dict_link":
                return df
            # identical-span dedup, then maximal spans, as pipeline.annotate does
            w = Window.partitionBy("doc_id").orderBy(
                F.col("start").asc(), F.col("end").asc(), F.col("score").desc(),
                F.col("n_tokens").desc(), F.col("hpo_id").asc(),
            )
            df = (
                df.withColumn("_ps", F.lag("start").over(w))
                .withColumn("_pe", F.lag("end").over(w))
                .filter(
                    F.col("_ps").isNull() | (F.col("_ps") != F.col("start"))
                    | (F.col("_pe") != F.col("end"))
                )
                .drop("_ps", "_pe")
            )
            df = keep_maximal_spans(df, gappy_col="gappy").select(
                "doc_id", F.lit("has_phenotype").alias("pred"), "hpo_id", "start", "end",
                "mention", "score", "negated",
            )
            if upto == "spans":
                return df
            return canonicalize_ids(df, spark, onto)

        def force(name: str) -> tuple[float, int]:
            obs = Observation(name)
            t = time.perf_counter()
            with self.tracer.span(f"layer:{name}"):
                compose(name).observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                    "noop"
                ).mode("overwrite").save()
            return time.perf_counter() - t, obs.get["rows"]

        with self.tracer.span("annotate_untraced"):
            t = time.perf_counter()
            annotate(spark, self.docs, onto, cfg).write.format("noop").mode("overwrite").save()
            annotate_s = time.perf_counter() - t
        with self.tracer.span("traced_annotate"):
            prefix = {name: force(name) for name in LAYERS}
        vocab_bc.unpersist()
        secs = {n: wall for n, (wall, _) in prefix.items()}
        count = {n: rows for n, (_, rows) in prefix.items()}
        traced_s = sum(secs.values())

        rows = compose("canonicalize").select(
            "doc_id", "hpo_id", "start", "end", "mention", "negated", "score"
        ).collect()
        stale = digest(rows) != build_digest
        if stale:
            log("composed layer calls no longer match the build: trace marked stale")
        selfs = {n: secs[n] - (secs[LAYERS[i - 1]] if i else 0.0) for i, n in enumerate(LAYERS)}
        for n, v in selfs.items():
            if v <= 0:
                log(f"layer {n}: self time {v:.3f} s is within the prefixes' noise")
        # the traced annotate's extra wall over the untraced one
        overhead = traced_s - annotate_s
        accounted = (sum(selfs.values()) + overhead) / traced_s
        log(f"layer split: untraced annotate {annotate_s:.3f} s, traced {traced_s:.3f} s, "
            f"self times {sum(selfs.values()):.3f} s + overhead {overhead:.3f} s "
            f"= {accounted:.3f} of the traced wall")
        m.update({
            "corpus.chunk_s": selfs["corpus"],
            "corpus.chunks_out": count["corpus"],
            "corpus.chunks_per_doc": count["corpus"] / self.n_docs,
            "candidates.gen_s": selfs["candidates"],
            "candidates.rows_out": count["candidates"],
            "candidates.rows_per_kb": count["candidates"] * 1024
            / sum(len(c) for c in self.contents.values()),
            "dict_link.link_s": selfs["dict_link"],
            "dict_link.matched_rows": count["dict_link"],
            "dict_link.hit_ratio": count["dict_link"] / max(count["candidates"], 1),
            "spans.dedup_s": selfs["spans"],
            "spans.rows_out": count["spans"],
            "canonicalize.canon_s": selfs["canonicalize"],
            # residual: the build less what annotate() and its dictionary cost
            "materialize.write_s": build_s - annotate_s - m["ontology.dict_df_s"]
            - m["ontology.prune_vocab_s"],
            "trace.wall_s": traced_s,
            "trace.overhead_s": overhead,
            "trace.overhead_ratio": overhead / annotate_s,
            "trace.accounted_ratio": accounted,
            "trace.stale": float(stale),
        })

    def traced_delta(self, base: Path) -> dict:
        """annotate_delta of the v2 snapshot (``self.docs``) over a copy
        of ``base`` and its layer split; returns the output checks of the
        resulting graph."""
        from pyspark.sql import functions as F

        from phenobert_spark.materialize import annotate_delta, read_manifest, verify_manifest

        spark, m = self.spark, self.layer
        out = self.work / "out" / "delta"
        shutil.copytree(base, out)
        onto = self.fresh_onto()
        with self.tracer.span("delta"):
            res = annotate_delta(spark, self.docs, onto, str(out), self.cfg, n_buckets=N_BUCKETS)
        with self.tracer.span("fingerprint"):
            t = time.perf_counter()
            verify_manifest(spark, self.docs, str(base), N_BUCKETS).select(
                "bucket"
            ).distinct().collect()
            fingerprint_s = time.perf_counter() - t
        changed = res["invalidated"]
        reannotated = (
            read_manifest(spark, str(out)).filter(F.col("bucket").isin(changed))
            .groupBy().sum("n_docs").collect()[0][0] or 0
        )
        m.update({
            "materialize.delta.fingerprint_s": fingerprint_s,
            "materialize.delta.buckets_invalidated": len(changed),
            "materialize.delta.reannotated_docs": reannotated,
            "materialize.delta.reannotate_ratio": reannotated / self.info["changed_docs"],
        })
        return check_graph(spark, out, self.contents, self.gold, self.n_docs)

    def traced_report(self, out: Path) -> dict:
        """jobs/kg_metrics.main with each operator it calls wrapped: an
        operator's time runs from its call to the next wrapped call (the
        job writes each result right after computing it), the last one
        to the end of main. Returns the output checks."""
        import importlib

        m = self.layer
        marks: list[tuple[str, float]] = []
        saved = []
        for mod_name, names in KG_FUNCS.items():
            mod = importlib.import_module(mod_name)
            for name in names:
                fn = getattr(mod, name)
                saved.append((mod, name, fn))

                def wrapped(*args, _fn=fn, _name=name, **kw):
                    marks.append((_name, time.perf_counter()))
                    return _fn(*args, **kw)

                setattr(mod, name, wrapped)
        counters = SparkCounters(self.spark)
        counters.mark()
        try:
            t = time.perf_counter()
            with self.tracer.span("call") as call:
                self.call_report(out)
            end = time.perf_counter()
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)
        m.update(counters.since_mark())
        bounds = marks + [("end", end)]
        times: dict[str, float] = {}
        for (name, start), (_, stop) in zip(bounds, bounds[1:]):
            times[name] = times.get(name, 0.0) + stop - start
            self.tracer.record(f"kg:{name}", start, stop, call["id"])
        # the tracing cost: one wrapper call (a timestamp) per operator call
        probe: list[tuple[str, float]] = []
        t0 = time.perf_counter()
        for _ in range(1000):
            probe.append(("probe", time.perf_counter()))
        overhead = (time.perf_counter() - t0) / 1000 * len(marks)
        wall = end - t
        m.update({f"kg_metrics.{v}_s": times.get(k, 0.0) for k, v in KG_LAYER.items()})
        m.update({
            "trace.wall_s": wall,
            "trace.overhead_s": overhead,
            "trace.overhead_ratio": overhead / wall,
            # the share of the job's wall its wrapped operators cover; the
            # rest is the job reading its input and loading the ontology
            "trace.accounted_ratio": (sum(times.values()) + overhead) / wall,
        })
        return self.check(out)

    def scaling(self, build_n: float) -> None:
        """The v2 build at local[1] against local[nproc]: same plan, same
        shuffle partitions, warm JVM; recorded, not gated."""
        from phenobert_spark.sources.tables import read_documents

        self.spark.stop()
        with self.tracer.span("scaling_local1"):
            self.spark = start_spark(self.work, 1)
            self.docs = read_documents(self.spark, self.info["docs_v2"])
            onto = self.fresh_onto()
            t = time.perf_counter()
            self.call_build(self.work / "out" / "local1", onto)
            build_1 = time.perf_counter() - t
        self.layer["scaling_efficiency"] = build_1 / (n_cores() * build_n)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="KG-construction benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "phenobert_spark" / "pipeline.py").is_file():
        log(f"program sources not found under {ROOT}")
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log("phases: " + ", ".join(
        f"{sp['name']} {sp['end'] - sp['start']:.1f}s"
        for sp in bench.tracer.spans if sp["end"] is not None and sp["parent"] is None
    ))
    spec = load_spec()
    units = {x["name"]: x["unit"] for x in spec["end_to_end"] + spec["per_layer"]}
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    for k, v in result["metrics"].items():
        log(f"{k:40s} {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
