"""The four workloads: how each builds its input, runs one job through
the engine's public functions, checks the output and, in the traced
run, splits one job into per-layer costs.

A job is what one client waits for: it reads the generated parquet
and ends when the last output file is written.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

import gen
from tracing import heaviest, median, shuffle_mb, within

# Prediction the checks hold every job to: the paper's P/R floor, and
# exact row and error counts.
MIN_PR = 0.95


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def part_files(path: str) -> int:
    return sum(1 for f in os.listdir(path) if f.startswith("part-"))


def read_lines(path: str) -> list[str]:
    return pq.read_table(path, columns=["line"]).column("line").to_pylist()


def score(corpus: gen.Corpus, lines: list[str], errors: int) -> dict:
    got = {gen.mask_generated_blanks(ln) for ln in lines}
    hit = len(got & corpus.expected)
    precision = hit / len(got) if got else 0.0
    recall = hit / len(corpus.expected) if corpus.expected else 0.0
    problems = []
    if precision < MIN_PR or recall < MIN_PR:
        problems.append(f"P/R {precision:.4f}/{recall:.4f} < {MIN_PR}")
    if len(lines) != corpus.expected_rows:
        problems.append(f"{len(lines)} rows, expected "
                        f"{corpus.expected_rows}")
    if errors != corpus.expected_errors:
        problems.append(f"{errors} errors, expected "
                        f"{corpus.expected_errors}")
    return {"precision": precision, "recall": recall, "rows": len(lines),
            "ok": not problems, "problems": problems}


def _scan(spark, paths) -> None:
    """The floor of any job: read the turns and touch every text."""
    from pyspark.sql import functions as F

    spark.read.parquet(paths["turns"]).agg(
        F.sum(F.length("text"))).collect()


class Workload:
    name = ""

    def corpus(self, seed: int) -> gen.Corpus:
        raise NotImplementedError

    def job(self, spark, paths: dict, out: str) -> dict:
        """Run one job; returns the counts the check needs."""
        raise NotImplementedError

    def check(self, corpus: gen.Corpus, out: str, info: dict) -> dict:
        return score(corpus, read_lines(out), info["errors"])


class _Fused(Workload):
    """parse → split_quarantine → dedup_triples → write_sorted_nquads,
    one fused Spark plan."""

    def parsed(self, spark, paths):
        """The parse stage's output (triples and error rows)."""
        raise NotImplementedError

    def job(self, spark, paths, out):
        from pyspark.sql import Observation, functions as F
        from serd_spark.operators.canonicalize import dedup_triples
        from serd_spark.operators.materialize import write_sorted_nquads
        from serd_spark.operators.parse import split_quarantine

        obs = Observation("parse")
        parsed = self.parsed(spark, paths).observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.count("err").alias("errors"))
        triples, _ = split_quarantine(parsed)
        write_sorted_nquads(dedup_triples(triples), out)
        m = obs.get
        return {"errors": m["errors"], "triples": m["rows"] - m["errors"]}

    def traced(self, spark, paths, out, tracer, stages, corpus) -> dict:
        """One traced iteration as cumulative prefix cuts: scan,
        +parse→count, +dedup→count, +sorted write (the full job)."""
        from serd_spark.operators.canonicalize import dedup_triples
        from serd_spark.operators.parse import split_quarantine

        r = {}
        with tracer.span("scan") as sp:
            _scan(spark, paths)
        r["cut_scan"] = sp["dur"]
        stages.since()
        with tracer.span("parse", call="parse→count") as sp:
            self.parsed(spark, paths).count()
        r["cut_parse"] = sp["dur"]
        st = stages.since()
        hot = heaviest(st)
        r["task_skew"] = stages.task_skew(hot) if hot else 0.0
        r["parse_shuffle"] = shuffle_mb(st)
        with tracer.span("canonicalize", call="dedup→count") as sp:
            triples, _ = split_quarantine(self.parsed(spark, paths))
            r["rows_out"] = dedup_triples(triples).count()
        r["cut_canon"] = sp["dur"]
        r["canon_shuffle"] = shuffle_mb(stages.since())
        with tracer.span("materialize", call="job") as sp:
            info = self.job(spark, paths, out)
        r["cut_job"] = sp["dur"]
        r["job_shuffle"] = shuffle_mb(stages.since())
        r.update(info)
        r["check"] = self.check(corpus, out, info)
        r["out_bytes"] = dir_bytes(out)
        r["files"] = part_files(out)
        return r

    def layers(self, its: list[dict], corpus: gen.Corpus) -> dict:
        cut = {k: median([i[k] for i in its])
               for k in ("cut_scan", "cut_parse", "cut_canon", "cut_job")}
        last = its[-1]
        parse_s = cut["cut_parse"] - cut["cut_scan"]
        m = {
            "scan.s": cut["cut_scan"],
            "parse.s": parse_s,
            "parse.turns_in": corpus.n_turns,
            "parse.triples_out": last["triples"],
            "parse.errors_out": last["errors"],
            "parse.triples_per_s": last["triples"] / parse_s
            if parse_s > 0 else 0.0,
            "parse.task_skew": median([i["task_skew"] for i in its]),
            "canonicalize.s": cut["cut_canon"] - cut["cut_parse"],
            "canonicalize.rows_in": last["triples"],
            "canonicalize.rows_out": last["rows_out"],
            "canonicalize.dedup_ratio": last["rows_out"] / last["triples"]
            if last["triples"] else 0.0,
            "canonicalize.shuffle_mb": median(
                [i["canon_shuffle"] - i["parse_shuffle"] for i in its]),
            "materialize.s": cut["cut_job"] - cut["cut_canon"],
            "materialize.rows": last["check"]["rows"],
            "materialize.mb_written": last["out_bytes"] / 2**20,
            "materialize.files": last["files"],
            "materialize.shuffle_mb": median(
                [i["job_shuffle"] - i["canon_shuffle"] for i in its]),
        }
        m["trace.traced_job_s"] = cut["cut_job"]
        return m


class TtlColocated(_Fused):
    """Production bulk build: co-located Turtle, Python grammar parse."""

    name = "ttl_colocated"

    def corpus(self, seed):
        return gen.turtle_corpus(seed, n_convs=4096, mega_every=128)

    def parsed(self, spark, paths):
        from serd_spark.operators.parse import parse_documents_colocated

        return parse_documents_colocated(spark.read.parquet(paths["turns"]))

    def layers(self, its, corpus):
        m = super().layers(its, corpus)
        # the co-located parser cuts one chunk per conversation and 64
        # turns: a property of the input
        m["parse.chunks"] = len({(r[0], r[1] // 64) for r in corpus.turns})
        return m


class NtLines(_Fused):
    """Vectorized line parse; dedup, range sort and write dominate."""

    name = "nt_lines"

    def corpus(self, seed):
        return gen.nt_corpus(seed, n_convs=6000)

    def parsed(self, spark, paths):
        from serd_spark.operators.parse import parse_ntriples_lines

        return parse_ntriples_lines(spark.read.parquet(paths["turns"]),
                                    nquads=False, lax=True)


class TtlSkewedPipeline(Workload):
    """KGPipeline.run over scattered, skewed Turtle with lax errors."""

    name = "ttl_skewed_pipeline"
    STAGES = ("chunks", "parsed", "errors", "triples", "metrics", "nquads")

    def corpus(self, seed):
        # big enough that parsing, not the per-stage floor, leads the
        # job; small enough that a 14 s window always holds two jobs
        return gen.turtle_corpus(seed, n_convs=1536, mega_every=32,
                                 errors_pct=2, layout="scattered")

    def job(self, spark, paths, out):
        from serd_spark.pipeline import KGPipeline

        shutil.rmtree(out, ignore_errors=True)
        s = KGPipeline(spark, out).run(spark.read.parquet(paths["turns"]))
        return {"errors": s["n_errors"], "triples": s["n_triples"],
                "summary": s}

    def check(self, corpus, out, info):
        res = score(corpus, read_lines(os.path.join(out, "nquads")),
                    info["errors"])
        if info["triples"] != res["rows"]:
            res["ok"] = False
            res["problems"].append("summary n_triples != rows written")
        return res

    def traced(self, spark, paths, out, tracer, stages, corpus) -> dict:
        """Time each stage call the pipeline makes by wrapping the
        materialize functions it calls, then run it again over the
        complete workdir (resume)."""
        import serd_spark.pipeline as pl

        spans = {}
        orig_ckpt, orig_nq = pl.write_checkpoint, pl.write_sorted_nquads

        def timed(name, fn, *a, **kw):
            with tracer.span(name, call=fn.__name__) as sp:
                res = fn(*a, **kw)
            spans[name] = sp
            return res

        pl.write_checkpoint = lambda df, path, stage, **kw: timed(
            stage, orig_ckpt, df, path, stage, **kw)
        pl.write_sorted_nquads = lambda df, path, **kw: timed(
            "nquads", orig_nq, df, path, **kw)
        with tracer.span("scan") as sp:
            _scan(spark, paths)
        scan_s = sp["dur"]
        stages.since()
        try:
            with tracer.span("pipeline.run") as sp:
                info = self.job(spark, paths, out)
        finally:
            pl.write_checkpoint, pl.write_sorted_nquads = orig_ckpt, orig_nq
        # stage metrics are read after the run, so no REST call falls
        # inside a timed span
        st = stages.since()
        r = {"cut_scan": scan_s,
             "stage": {n: s["dur"] for n, s in spans.items()},
             "shuffle": {n: shuffle_mb(within(st, s))
                         for n, s in spans.items()}}
        hot = heaviest(within(st, spans["parsed"]))
        r["skew"] = stages.task_skew(hot) if hot else 0.0
        r["cut_job"] = sp["dur"]
        r.update(info)
        r["check"] = self.check(corpus, out, info)
        r["out_bytes"] = dir_bytes(out)
        r["files"] = part_files(os.path.join(out, "nquads"))
        chunks = pq.read_table(os.path.join(out, "chunks"),
                               columns=["patch"]).column("patch")
        r["chunks"] = len(chunks)
        r["patched"] = len(chunks) - chunks.null_count
        r["parsed_rows"] = next(s["rows"] for s in info["summary"]["stages"]
                                if s["stage"] == "parsed")
        with tracer.span("pipeline.resume") as sp:
            pl.KGPipeline(spark, out).run(spark.read.parquet(paths["turns"]))
        r["resume"] = sp["dur"]
        return r

    def layers(self, its, corpus):
        def st(name):
            return median([i["stage"].get(name, 0.0) for i in its])

        def sh(*names):
            return median([sum(i["shuffle"].get(n, 0.0) for n in names)
                           for i in its])

        last = its[-1]
        m = {f"pipeline.stage_s.{n}": st(n) for n in self.STAGES}
        job = median([i["cut_job"] for i in its])
        m["pipeline.self_s"] = job - sum(m.values())
        m["pipeline.resume_s"] = median([i["resume"] for i in its])
        parse_s = st("chunks") + st("parsed")
        parsed = last["parsed_rows"] - last["errors"]
        m.update({
            "scan.s": median([i["cut_scan"] for i in its]),
            "parse.s": parse_s,
            "parse.turns_in": corpus.n_turns,
            "parse.triples_out": parsed,
            "parse.errors_out": last["errors"],
            "parse.triples_per_s": parsed / parse_s if parse_s else 0.0,
            "parse.chunks": last["chunks"],
            "parse.patch_hit_ratio": last["patched"] / last["chunks"],
            "parse.task_skew": median([i["skew"] for i in its]),
            "canonicalize.s": st("triples") + st("metrics"),
            "canonicalize.rows_in": parsed,
            "canonicalize.rows_out": last["triples"],
            "canonicalize.dedup_ratio": last["triples"] / parsed,
            "canonicalize.shuffle_mb": sh("triples", "metrics"),
            "materialize.s": st("errors") + st("nquads"),
            "materialize.rows": last["check"]["rows"],
            "materialize.mb_written": last["out_bytes"] / 2**20,
            "materialize.files": last["files"],
            "materialize.shuffle_mb": sh("errors", "nquads"),
            # below 1 while the chunked path loses directives; the
            # check's 0.95 floor lets a few lost conversations through
            "pipeline.precision": last["check"]["precision"],
            "pipeline.recall": last["check"]["recall"],
            "trace.traced_job_s": job,
        })
        return m


class EntityLink(Workload):
    """detect → link → emit over natural-language turns."""

    name = "entity_link"

    def corpus(self, seed):
        # three or four jobs per 14 s window, so the median skips the
        # second job, which the JIT is still warming
        return gen.entity_corpus(seed, n_convs=3000)

    def _inputs(self, spark, paths):
        return (spark.read.parquet(paths["turns"]),
                spark.read.parquet(paths["entities"]))

    def job(self, spark, paths, out):
        from serd_spark.operators.kg import kg_entity_link_pipeline

        kg_entity_link_pipeline(*self._inputs(spark, paths)) \
            .write.mode("overwrite").parquet(out)
        return {"errors": 0}

    def check(self, corpus, out, info):
        t = pq.read_table(out, columns=["s", "p", "o"]).to_pydict()
        lines = [gen.line(gen.iri(s), gen.iri(p), gen.iri(o))
                 for s, p, o in zip(t["s"], t["p"], t["o"])]
        return score(corpus, lines, info["errors"])

    def traced(self, spark, paths, out, tracer, stages, corpus) -> dict:
        from serd_spark.operators.kg import detect_mentions, link_entities

        r = {}
        with tracer.span("scan") as sp:
            _scan(spark, paths)
        r["cut_scan"] = sp["dur"]
        stages.since()
        with tracer.span("kg.detect", call="detect_mentions→count") as sp:
            r["candidates"] = detect_mentions(
                *self._inputs(spark, paths)).count()
        r["cut_detect"] = sp["dur"]
        r["detect_shuffle"] = shuffle_mb(stages.since())
        with tracer.span("kg.link", call="link_entities→count") as sp:
            r["linked"] = link_entities(
                detect_mentions(*self._inputs(spark, paths))).count()
        r["cut_link"] = sp["dur"]
        r["link_shuffle"] = shuffle_mb(stages.since())
        with tracer.span("materialize", call="job") as sp:
            info = self.job(spark, paths, out)
        r["cut_job"] = sp["dur"]
        r["job_shuffle"] = shuffle_mb(stages.since())
        r["check"] = chk = self.check(corpus, out, info)
        if r["candidates"] != corpus.candidates:
            chk["ok"] = False
            chk["problems"].append(f"{r['candidates']} candidates, expected "
                                   f"{corpus.candidates}")
        r["out_bytes"] = dir_bytes(out)
        r["files"] = part_files(out)
        return r

    def layers(self, its, corpus):
        cut = {k: median([i[k] for i in its])
               for k in ("cut_scan", "cut_detect", "cut_link", "cut_job")}
        last = its[-1]
        chk = last["check"]
        m = {
            "scan.s": cut["cut_scan"],
            "kg.detect_s": cut["cut_detect"] - cut["cut_scan"],
            "kg.candidates": last["candidates"],
            "kg.link_s": cut["cut_link"] - cut["cut_detect"],
            "kg.linked": last["linked"],
            "kg.link_ratio": last["linked"] / last["candidates"]
            if last["candidates"] else 0.0,
            "kg.triples_out": chk["rows"],
            "kg.precision": chk["precision"],
            "kg.recall": chk["recall"],
            "materialize.s": cut["cut_job"] - cut["cut_link"],
            "materialize.rows": chk["rows"],
            "materialize.mb_written": last["out_bytes"] / 2**20,
            "materialize.files": last["files"],
            "materialize.shuffle_mb": median(
                [i["job_shuffle"] - i["link_shuffle"] for i in its]),
            "trace.traced_job_s": cut["cut_job"],
        }
        return m


WORKLOADS = {w.name: w for w in (TtlColocated(), NtLines(),
                                 TtlSkewedPipeline(), EntityLink())}
