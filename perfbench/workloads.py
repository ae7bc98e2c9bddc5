"""The three workloads. Each is a closed loop driven by one client: the next
timed call starts only after the previous one returned.

A workload object has

* ``prepare(seed)``  — write the seeded inputs (benchmark-side, untimed);
* ``setup(spark)``   — program-side staging and the untimed warm-up;
* ``cycle(tracer)``  — one timed unit of work; returns its step timings and,
  when a tracer is given, the per-layer numbers of the cycle;
* ``probe(tracer)``  — traced-run-only extra measurements (prefix chains);
* ``check()``        — correctness of the outputs, after the timed loop;
* ``summary(cycles)``— the workload's end-to-end numbers.

Only public calls of the program are used: ``pipeline.extract_from_documents``,
``operators.derive_spans`` / ``restitch`` / ``layout``,
``lineage.run_extraction`` / ``committed_metrics`` and
``__spark_entry__.queries()``.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import numpy as np

from . import inputs, trace


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _quantile(values: list[float], q: int) -> float:
    """q-th quartile (1..3) the way ``statistics.quantiles(n=4)`` gives it."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=4)[q - 1]


def _prefix_chain(docs, tracer) -> dict[str, float]:
    """Marginal noop time of derive_spans -> restitch -> layout on ``docs``,
    plus the shuffle bytes of the restitch fanout exchange. Each prefix is
    run twice and the faster run kept."""
    from text_extraction_system_spark.operators import derive_spans as ds
    from text_extraction_system_spark.operators import layout, restitch

    spans = ds.derive_spans(docs)
    stitched = restitch.process_spans(spans)
    prefixes = [("derive_spans", spans), ("restitch", stitched),
                ("layout", layout.assemble(stitched, dense=True))]
    out, prev, fanout = {}, 0.0, 0.0
    for name, df in prefixes:
        best = None
        for _ in range(2):
            mark = tracer.mark()
            t0 = time.perf_counter()
            _noop(df)
            dt = time.perf_counter() - t0
            if best is None or dt < best:
                best = dt
            if name == "restitch":
                fanout = trace.exchange_bytes(tracer.since(mark))
        out[f"{name}.s"] = best - prev
        prev = best
    out["restitch.fanout_shuffle_bytes"] = fanout
    return out


class Extract:
    """extract_from_documents with its defaults (the Arrow kernel, because
    with_structure=True) into the noop sink."""

    name = "extract_structured"
    N_DOCS = 20_000
    N_FILES = 8
    MIN_CYCLES = 4
    SAMPLE = 100

    def __init__(self, work: str):
        self.work = work

    def prepare(self, seed: int) -> dict:
        self.seed = seed
        self.path = os.path.join(self.work, "corpus")
        self.desc = inputs.extraction_corpus(self.path, seed, self.N_DOCS, self.N_FILES)
        return self.desc

    def _docs(self):
        return self.spark.read.parquet(self.path)

    def setup(self, spark) -> None:
        self.spark = spark
        self.desc["scan_partitions"] = self._docs().rdd.getNumPartitions()
        # warm-up: the first pass is cold (JIT, Python workers), the second
        # still runs measurably slower than the ones after it
        self._run()
        self._run()

    def _run(self) -> None:
        from text_extraction_system_spark import pipeline

        _noop(pipeline.extract_from_documents(self._docs()))

    def cycle(self, tracer=None) -> dict:
        mark = tracer.mark() if tracer else None
        t0 = time.perf_counter()
        self._run()
        wall = time.perf_counter() - t0
        out = {"wall_s": wall, "calls": 1}
        if tracer:
            out["layers"] = trace.layers(tracer.since(mark), wall, self.cores)
        return out

    def probe(self, tracer) -> dict[str, float]:
        return _prefix_chain(self._docs(), tracer)

    def check(self) -> list[str]:
        """A seeded sample of docs through the same call, compared field by
        field with the single-threaded oracle."""
        from pyspark.sql import functions as F

        from text_extraction_system_spark import pipeline

        docs = self._docs()
        ids = np.random.default_rng(self.seed + 1).choice(
            docs.select("doc_id").toPandas()["doc_id"].to_numpy(), self.SAMPLE, replace=False)
        sample = docs.where(F.col("doc_id").isin([int(i) for i in ids]))
        rows = sample.select("doc_id", "text").collect()
        got = {r["doc_id"]: r.asDict(recursive=True)
               for r in pipeline.extract_from_documents(sample).collect()}
        return _compare_oracle([(str(r["doc_id"]), r["text"]) for r in rows], got,
                               structure=True, desc=self.desc)

    def summary(self, cycles: list[dict]) -> dict:
        wall = statistics.median(c["wall_s"] for c in cycles)
        return {
            "docs_per_s": self.N_DOCS / wall,
            "cycle_s": wall,
            "named": {"extract_docs_per_s": (self.N_DOCS / wall, "docs/s")},
        }


def _compare_oracle(docs: list[tuple[str, str]], got: dict, structure: bool,
                    desc: dict) -> list[str]:
    """Field-by-field comparison with ``core.oracle.extract``; also records
    the sample's OCR share in ``desc``."""
    from text_extraction_system_spark.core import oracle

    errors, n_ocr = [], 0
    for doc_id, text in docs:
        exp = oracle.extract(doc_id, text)
        n_ocr += exp.needs_ocr
        g = got.get(doc_id)
        if g is None:
            errors.append(f"{doc_id}: missing from output")
            continue
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in g["out_spans"]]
        want = [(s.kind, s.text, s.media_ref, s.offset) for s in exp.out_spans]
        fields = {
            "out_spans": spans == want,
            "plain_text": g["plain_text"] == exp.plain_text,
            "needs_ocr": g["needs_ocr"] == exp.needs_ocr,
            "pages": [dict(p) for p in g["pages"]] == exp.pages,
        }
        if structure:
            st = g["structure"]
            fields["structure"] = (
                st["language"] == exp.language and st["title"] == exp.title
                and st["paragraphs"] == exp.paragraphs and st["sentences"] == exp.sentences)
        errors += [f"{doc_id}: {k} differs from oracle" for k, ok in fields.items() if not ok]
    desc["ocr_share"] = n_ocr / max(len(docs), 1)
    return errors


class CommitResume:
    """The production job.py path: derive_spans + run_extraction over ~90%
    of the corpus into a fresh base dir, then run_extraction over the full
    corpus, which skips the committed docs and commits the rest."""

    name = "commit_resume"
    N_DOCS = 5_000
    N_FILES = 10          # the first call reads the first 9 files
    GIANT_SHARE = 0.001
    MIN_CYCLES = 2
    SAMPLE = 100

    def __init__(self, work: str):
        self.work = work
        self.n_cycle = 0

    def prepare(self, seed: int) -> dict:
        self.seed = seed
        self.path = os.path.join(self.work, "corpus")
        self.desc = inputs.extraction_corpus(
            self.path, seed, self.N_DOCS, self.N_FILES, self.GIANT_SHARE)
        self.first_files = self.desc["files"][: self.N_FILES - 1]
        return self.desc

    def setup(self, spark) -> None:
        self.spark = spark
        first = spark.read.parquet(*self.first_files)
        self.n_first = first.count()
        self.desc["scan_partitions"] = spark.read.parquet(self.path).rdd.getNumPartitions()
        self._cycle(self.first_files, [self.path], None)  # warm-up

    def _spans(self, files):
        from text_extraction_system_spark.operators import derive_spans as ds

        return ds.derive_spans(self.spark.read.parquet(*files))

    def _call(self, files, base, tracer):
        from text_extraction_system_spark import lineage

        mark = tracer.mark() if tracer else None
        t0 = time.perf_counter()
        res = lineage.run_extraction(self.spark, self._spans(files), base,
                                     run_id=f"c{self.n_cycle}_{len(files)}")
        wall = time.perf_counter() - t0
        return res, wall, (tracer.since(mark) if tracer else None)

    def _base(self) -> str:
        return os.path.join(self.work, f"base_{self.n_cycle}")

    def cycle(self, tracer=None) -> dict:
        out = self._cycle(self.first_files, [self.path], tracer)
        out["errors"] = self._accounting(self._base(), *out.pop("results"))
        return out

    def _cycle(self, first, full, tracer) -> dict:
        self.n_cycle += 1
        for old in glob.glob(os.path.join(self.work, "base_*")):
            shutil.rmtree(old)
        base = self._base()
        r1, t_commit, ex1 = self._call(first, base, tracer)
        r2, t_resume, ex2 = self._call(full, base, tracer)
        out = {"wall_s": t_commit + t_resume, "commit_s": t_commit,
               "resume_s": t_resume, "calls": 2, "results": (r1, r2)}
        if tracer:
            lay = trace.layers(ex1 + ex2, t_commit + t_resume, self.cores)
            lay.update(_lineage_layers(ex1))
            lay["resume.actions"] = float(len(ex2))
            lay["resume.shuffle_bytes"] = float(sum(
                s["shuffle_write_bytes"] for e in ex2 for s in e["stages"]))
            out["layers"] = lay
        return out

    def _accounting(self, base, r1, r2) -> list[str]:
        """Exactly-once: every input doc committed once, processed+skipped
        equals the input, committed lineage counts sum to the corpus."""
        from pyspark.sql import functions as F

        from text_extraction_system_spark import lineage

        n = self.N_DOCS
        errors = []
        if r1["docs_processed"] != self.n_first or r1["docs_skipped"] != 0:
            errors.append(f"first call accounted {r1}, expected {self.n_first} processed")
        if r2["docs_processed"] != n - self.n_first or \
                r2["docs_processed"] + r2["docs_skipped"] != n:
            errors.append(f"resume call accounted {r2}, expected {n - self.n_first} processed")
        results = self.spark.read.parquet(os.path.join(base, "results"))
        agg = results.agg(F.count("*").alias("rows"),
                          F.countDistinct("doc_id").alias("ids")).first()
        missing = self._spans([self.path]).select("doc_id").join(
            results.select("doc_id"), "doc_id", "left_anti").count()
        if agg["rows"] != n or agg["ids"] != n or missing:
            errors.append(f"results hold {agg['rows']} rows / {agg['ids']} ids, "
                          f"{missing} input docs missing; expected {n} once each")
        total = lineage.committed_metrics(self.spark, base).agg(
            F.sum("doc_count")).first()[0]
        if total != n:
            errors.append(f"committed_metrics doc_count sum {total} != {n}")
        return errors

    def probe(self, tracer) -> dict[str, float]:
        from text_extraction_system_spark import lineage

        out = _prefix_chain(self.spark.read.parquet(self.path), tracer)
        self.n_cycle += 1
        base = self._base()
        self._call(self.first_files, base, None)
        anti = self._spans([self.path]).join(
            lineage.committed_doc_ids(self.spark, base), "doc_id", "left_anti")
        best = min(_timed(lambda: _noop(anti)) for _ in range(2))
        out["resume.anti_join_s"] = best
        return out

    def check(self) -> list[str]:
        """The giant docs and a seeded sample of the rest, read back from
        the committed results table and compared with the oracle."""
        from pyspark.sql import functions as F

        docs = self.spark.read.parquet(self.path).select("doc_id", "text")
        giants = docs.where(F.length("text") > 4000).select("doc_id").toPandas()["doc_id"]
        ids = np.random.default_rng(self.seed + 1).choice(
            docs.select("doc_id").toPandas()["doc_id"].to_numpy(), self.SAMPLE, replace=False)
        want = sorted({int(i) for i in ids} | {int(i) for i in giants})
        rows = docs.where(F.col("doc_id").isin(want)).collect()
        results = self.spark.read.parquet(os.path.join(self._base(), "results"))
        got = {r["doc_id"]: r.asDict(recursive=True)
               for r in results.where(F.col("doc_id").isin([str(i) for i in want])).collect()}
        return _compare_oracle([(str(r["doc_id"]), r["text"]) for r in rows], got,
                               structure=False, desc=self.desc)

    def summary(self, cycles: list[dict]) -> dict:
        commit = statistics.median(c["commit_s"] for c in cycles)
        resume = statistics.median(c["resume_s"] for c in cycles)
        return {
            "docs_per_s": self.n_first / commit,
            "cycle_s": statistics.median(c["wall_s"] for c in cycles),
            "named": {"commit_docs_per_s": (self.n_first / commit, "docs/s"),
                      "resume_s": (resume, "s")},
        }


def _ocr_share(path: str) -> float:
    """Share of the docs in ``path`` whose derived spans need OCR."""
    import pyarrow.parquet as pq

    from text_extraction_system_spark.core import oracle

    t = pq.read_table(path, columns=["doc_id", "text"])
    pairs = zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    return sum(oracle.needs_ocr(oracle.derive_spans(str(d), x)) for d, x in pairs) / t.num_rows


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _lineage_layers(execs: list[dict]) -> dict[str, float]:
    """Group the executions inside one run_extraction call: the results
    staging write, the action that materializes the persisted extraction
    (the lineage aggregate), and the bookkeeping reads/writes around them."""
    write = [e for e in execs if "results.staging" in e["plan"]]
    extract = [e for e in execs if e not in write and "InMemoryRelation" in e["plan"]]
    rest = [e for e in execs if e not in write and e not in extract]
    wall = lambda es: float(sum(e["wall_s"] for e in es))  # noqa: E731
    return {
        "lineage.actions": float(len(execs)),
        "lineage.extract_s": wall(extract),
        "lineage.write_s": wall(write),
        "lineage.bookkeeping_s": wall(rest),
        "lineage.bytes_written": trace.node_sum(execs, "written output"),
    }


#: the curation queries timed by curation_suite: one or more per operator
#: family (dedup, textstats, multimodal, similarity/ANN), all from
#: bench.HEADLINE except dup_clusters
SUITE = (
    "near_dup_pairs", "incremental_dedup", "dup_clusters", "tfidf_keywords",
    "media_features", "ann_topk",
)


class Suite:
    """Curation queries over a seeded sf-dir: every timed execution builds
    a fresh DataFrame (build + one noop run), so nothing cached by an
    earlier action of the same DataFrame is reused."""

    name = "curation_suite"
    MIN_CYCLES = 1
    SF_NAME = "perfbench_sf"

    def __init__(self, work: str):
        self.work = work

    def prepare(self, seed: int) -> dict:
        self.path = os.path.join(self.work, self.SF_NAME)
        self.desc = inputs.suite_dir(self.path, seed)
        self.desc["ocr_share"] = _ocr_share(os.path.join(self.path, "documents.parquet"))
        return self.desc

    def setup(self, spark) -> None:
        import __spark_entry__

        self.spark = spark
        self.queries = __spark_entry__.queries()
        # incremental_dedup keeps write-once state next to the entry module,
        # keyed by corpus path and mtime: drop it so the warm-up below
        # rebuilds it with this checkout's code
        self.cleanup()
        self.desc["scan_partitions"] = spark.read.parquet(
            os.path.join(self.path, "documents.parquet")).rdd.getNumPartitions()
        # warm-up: collect every query once (this also writes the
        # incremental state tables); check() compares these results with
        # the DuckDB oracle after the timed loop
        self.results = {}
        for name in SUITE:
            df = self.queries[name](spark, self.path)
            self.results[name] = (list(df.columns), [tuple(r) for r in df.collect()])

    def cycle(self, tracer=None) -> dict:
        per_query, builds, execs = {}, 0.0, []
        for name in SUITE:
            mark = tracer.mark() if tracer else None
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.path)
            builds += time.perf_counter() - t0
            _noop(df)
            per_query[name] = time.perf_counter() - t0
            if tracer:
                execs += tracer.since(mark)
        wall = sum(per_query.values())
        out = {"wall_s": wall, "queries": per_query, "calls": len(SUITE)}
        if tracer:
            lay = trace.layers(execs, wall, self.cores)
            lay["suite.build_s"] = builds
            lay.update({f"query.{n}.s": t for n, t in per_query.items()})
            out["layers"] = lay
        return out

    def probe(self, tracer) -> dict[str, float]:
        return {}

    def cleanup(self) -> None:
        import __spark_entry__

        root = os.path.dirname(os.path.abspath(__spark_entry__.__file__))
        for old in glob.glob(os.path.join(root, "spark-warehouse", f"state_{self.SF_NAME}_*")):
            shutil.rmtree(old)

    def check(self) -> list[str]:
        """Each query's warm-up result against its DuckDB oracle twin
        (row count, column names and the order-insensitive value hash)."""
        import duckdb

        import __spark_entry__
        from tools.check_oracle import TABLES, value_hash

        oracle = __spark_entry__.oracle_sql()
        errors = []
        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.path, t)}.parquet'")
            for name in SUITE:
                scols, srows = self.results[name]
                res = con.execute(oracle[name])
                dcols = [d[0] for d in res.description]
                drows = [tuple(r) for r in res.fetchall()]
                if sorted(scols) != sorted(dcols) or len(srows) != len(drows) \
                        or value_hash(scols, srows) != value_hash(dcols, drows):
                    errors.append(f"{name}: {len(srows)} rows differ from the DuckDB oracle "
                                  f"({len(drows)} rows)")
        return errors

    def summary(self, cycles: list[dict]) -> dict:
        times = [t for c in cycles for t in c["queries"].values()]
        suite = statistics.median(c["wall_s"] for c in cycles)
        return {
            "docs_per_s": self.desc["docs"] * len(SUITE) / suite,
            "cycle_s": suite,
            "named": {"suite_s": (suite, "s"),
                      "query_p50_s": (statistics.median(times), "s"),
                      "query_p75_s": (_quantile(times, 3), "s")},
            "query_samples": len(times),
        }


WORKLOADS = {w.name: w for w in (Extract, CommitResume, Suite)}
