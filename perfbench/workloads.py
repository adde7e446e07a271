"""The benchmark's workloads: inputs, one timed pass, and the output checks.

Both are closed loops with one client: the next pass (or batch) starts when
the previous one has returned.  ``run_pass`` times only the call into the
program; input generation and checks happen outside it.  The first
``warmup_passes`` passes of a run warm the JVM (JIT and code generation) and
count in set-up; they are checked when ``check_warmup`` is set.
"""

from __future__ import annotations

import inspect
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tabbyld_spark.extract.html import extract_pages
from tabbyld_spark.fixtures.pages import gen_pages_df, gen_pages_pd
from tabbyld_spark.operators.evaluate import evaluate_cea, evaluate_cpa, evaluate_cta
from tabbyld_spark.operators.triples import emit_triples
from tabbyld_spark.plans.pipeline import run_pipeline_resumable
from tabbyld_spark.plans.webcorpus import prep_web_corpus
from tabbyld_spark.sources.catalog import SnapshotCatalog

# the north-rule gate (tests/test_pipeline_e2e.py) at benchmark scale
MIN_PR = 0.95
# the chunking and packing options webprep runs with: prep_web_corpus's defaults
_WEB = {k: v.default for k, v in inspect.signature(prep_web_corpus).parameters.items()
        if k in ("max_tokens", "seq_len", "n_buckets")}


def digest(df: DataFrame) -> tuple[int, int]:
    """Order-independent (row count, hash sum) of a frame's rows."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


class AnnotateCommit:
    """``run_pipeline_resumable`` over a stream of 300-page batches, each with
    its own seed (seed + i) and its own fresh snapshot catalog.  Most of a
    warm batch is fixed per-pass cost (planning, ~50 Spark jobs of which ~30
    are broadcast builds) plus five catalog commits, so job-count, planning
    and commit changes show here."""

    name = "annotate_commit"
    pages_per_pass = 300
    # the first pass of a JVM (JIT and code generation) takes about twice as
    # long as the next ones, at 30 pages as at 300 (adaptive execution is off
    # in get_spark, so the plans, and the code they generate, do not depend
    # on the batch size), so the warm-up batch is small
    warmup_passes = 1
    warmup_pages = 30
    # the check costs seconds of Spark jobs; every timed batch is checked
    check_warmup = False

    def __init__(self, spark, seed: int, work_dir: str, kg):
        self.spark, self.seed, self.kg = spark, seed, kg
        self.root = os.path.join(work_dir, "catalog")
        shutil.rmtree(self.root, ignore_errors=True)
        self.kgs = kg.to_spark(spark)
        self._pages: tuple[int, DataFrame] | None = None
        self.info: dict = {"pages_per_pass": self.pages_per_pass}
        self.prepare(0)

    def prepare(self, i: int) -> None:
        """Generate and cache batch ``i`` (seed + i) before its pass."""
        if self._pages is None or self._pages[0] != i:
            if self._pages is not None:
                self._pages[1].unpersist()
            n = self.warmup_pages if i < self.warmup_passes else self.pages_per_pass
            pages = gen_pages_df(self.spark, self.kg, n_pages=n, seed=self.seed + i).persist()
            pages.count()
            self._pages = (i, pages)

    def run_pass(self, i: int):
        assert self._pages is not None and self._pages[0] == i, f"batch {i} not prepared"
        pages = self._pages[1]
        cat = SnapshotCatalog(os.path.join(self.root, f"batch-{i:03d}"))
        t0 = time.perf_counter()
        run_pipeline_resumable(self.spark, pages, self.kgs, cat, fuzzy_enabled=True)
        return time.perf_counter() - t0, (i, cat)

    def check(self, out) -> list[str]:
        """The committed triples are the triples of the committed CEA, CTA
        and CPA, and those meet the P/R gate against the batch's gold."""
        b, cat = out
        errors = []
        read = {t: cat.read(self.spark, t) for t in ("triples", "cea", "cta", "cpa")}
        got = digest(read["triples"])
        self.info["triples_per_pass"] = got[0]
        want = digest(emit_triples(read["cea"], read["cta"], read["cpa"]))
        if got != want:
            errors.append(f"batch {b}: committed triples {got} != triples of committed votes {want}")
        gold = gen_pages_pd(self.kg, n_pages=self.pages_per_pass, seed=self.seed + b)
        for task, fn, g in (
            ("cea", evaluate_cea, gold.gold_cea),
            ("cta", evaluate_cta, gold.gold_cta),
            ("cpa", evaluate_cpa, gold.gold_cpa),
        ):
            m = fn(read[task], self.spark.createDataFrame(g))
            self.info[f"{task}_f1"] = m["f1"]
            if m["precision"] < MIN_PR or m["recall"] < MIN_PR:
                errors.append(f"batch {b}: {task} P/R below {MIN_PR}: {m}")
        self.info["catalog_bytes"] = _dir_bytes(cat.root)
        return errors

    def done(self, out) -> None:
        shutil.rmtree(out[1].root, ignore_errors=True)

    def pass_rows(self, out) -> dict[str, int]:
        """Rows the pass committed, for the traced run's ``rows_out``."""
        _, cat = out
        committed = {t: cat.manifest(t)["history"][-1]["rows"]
                     for t in ("canonical", "cea", "cta", "cpa", "triples")}
        # the commits are the actions of S1 and S5-S6, which cut nothing
        return {"catalog.commit": sum(committed.values()),
                "S1.extract": committed["canonical"],
                "S5S6.votes_triples": committed["triples"]}

    def final_check(self) -> list[str]:
        return []


class Webprep:
    """``prep_web_corpus`` with default options over 3,000 pages, written to
    the noop sink.  Shares S1 extraction with annotate but skips S2-S6, so a
    change only to S2-S6 must read "no change" here."""

    name = "webprep"
    pages_per_pass = 3_000
    # the first pass takes about twice as long as the next ones
    warmup_passes = 1
    # the check reads the pass's observed metrics, so it is free, and the
    # warm-up passes give the timed ones a reference
    check_warmup = True

    def __init__(self, spark, seed: int, work_dir: str, kg):
        self.spark = spark
        self.pages = gen_pages_df(spark, kg, n_pages=self.pages_per_pass, seed=seed).persist()
        self.pages.count()
        self.ref: tuple[int, int, int] | None = None
        self.info: dict = {"pages_per_pass": self.pages_per_pass}

    def prepare(self, i: int) -> None:
        """Every pass reads the pages cached at set-up."""

    def run_pass(self, i: int):
        obs = Observation(f"webprep-{i}")
        t0 = time.perf_counter()
        out = prep_web_corpus(self.pages).observe(
            obs,
            F.count(F.lit(1)).alias("chunks"),
            F.sum(F.xxhash64("seq_key", "bucket", "pack_id").cast("decimal(38,0)")).alias("h"),
            F.sum("n_chunk_tokens").alias("tokens"),
            F.count_if(F.col("chunk_id") == 0).alias("docs"),
            F.min("n_chunk_tokens").alias("min_tokens"),
            F.max("n_chunk_tokens").alias("max_tokens"),
            F.count_if(
                (F.col("pack_id")
                 != F.floor((F.col("cum_tokens") - F.col("n_chunk_tokens")) / _WEB["seq_len"]))
                | (F.col("cum_tokens") < F.col("n_chunk_tokens"))
                | ~F.col("bucket").between(0, _WEB["n_buckets"] - 1)
            ).alias("bad_packing"),
        )
        out.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, obs

    def check(self, obs) -> list[str]:
        """The chunks and packs obey the contract of ``chunk_documents`` and
        ``pack_sequences`` at the default options, and chunk count, token sum
        and the chunk-to-pack assignment are the same on every pass."""
        m = obs.get
        errors = []
        if not 0 < m["docs"] <= self.pages_per_pass:
            errors.append(f"{m['docs']} documents chunked out of {self.pages_per_pass} pages")
        if m["chunks"] and not 1 <= m["min_tokens"] <= m["max_tokens"] <= _WEB["max_tokens"]:
            errors.append(f"chunk sizes {m['min_tokens']}..{m['max_tokens']} outside "
                          f"1..{_WEB['max_tokens']} tokens")
        if m["bad_packing"]:
            errors.append(f"{m['bad_packing']} chunks with a pack_id or bucket that breaks "
                          f"seq_len={_WEB['seq_len']}, n_buckets={_WEB['n_buckets']} packing")
        got = _obs_key(obs)
        if self.ref is None:
            self.ref = got
            self.info["chunks_per_pass"] = got[0]
        if got != self.ref:
            errors.append(f"chunks/packing (count, digest, tokens) {got} != first pass {self.ref}")
        return errors

    def done(self, obs) -> None:
        pass

    def pass_rows(self, obs) -> dict[str, int]:
        return {"W5.filter_pack": _obs_key(obs)[0]}

    def final_check(self) -> list[str]:
        """The north-rule invariant: extracted text is byte-identical to the
        generator's ``text`` for every url."""
        ex = extract_pages(self.pages)
        bad = ex.filter(~F.col("extracted_text").eqNullSafe(F.col("text"))).count()
        return [f"{bad} pages extract differently from their text"] if bad else []


def _obs_key(obs: Observation) -> tuple[int, int, int]:
    m = obs.get
    return int(m["chunks"]), int(m["h"] or 0), int(m["tokens"] or 0)


WORKLOADS = {w.name: w for w in (AnnotateCommit, Webprep)}
