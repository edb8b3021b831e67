"""The two benchmark workloads and the dedup layer probe.

A workload builds its inputs from the seed (``build_inputs``) and warms
up, then the runner calls ``op`` repeatedly while it measures. ``op``
returns the number of input docs it handled and a check of its output,
which the runner calls untimed.
``check_run`` holds the checks made once per run. In a traced operation
the workload adds spans around its calls into the program, and
``layer_metrics`` turns what the traced operations recorded into the
workload's per-layer metrics.

A layer probe has the same interface but no end-to-end metrics: the
traced run of the workload that ``LAYER_PROBES`` names sets it up, warms
it up and makes ``PROBE_OPS`` traced, checked operations of it.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import sys
from contextlib import nullcontext

from pyspark.sql import functions as F

from hyperpolyglot_spark.datagen.pages import gen_page
from hyperpolyglot_spark.functions.langid import default_hashed_model
from hyperpolyglot_spark.functions.perplexity import default_ppl_model, ppl_thresholds_for
from hyperpolyglot_spark.operators.dedup import (
    minhash_neardup_join_indexed,
    pinned_scope,
    save_dedup_index,
    update_dedup_index,
)
from hyperpolyglot_spark.plans.pipeline import (
    DEFAULT_UNRESOLVED_POLICY,
    metrics,
    py_disposition,
    py_label_page,
    run_pipeline,
)
from hyperpolyglot_spark.plans.resume import LABELS_DIR, read_manifest, run_with_resume

import inputs

CRAWL_PAGES = 6000
RESUME_PAGES = 1600
CORPUS_DOCS = 1500
DROP_DOCS = 600
SAMPLE = 300  # docs in the label check and the layer probe
N_BUCKETS, GROUP_SIZE = 64, 16  # the job's defaults: 4 bucket groups
THRESHOLD = 0.5
RECALL_FROM = 0.9  # planted pairs at or above this Jaccard must be found


def _fail(msg: str) -> bool:
    print(f"check failed: {msg}", file=sys.stderr)
    return False


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return a == b


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    warm_ops = 1  # untimed operations before the timed ones

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.records: list[dict] = []  # one per traced op

    def span(self, name: str, k: int, traced: bool, **attrs):
        return self.tracer.span(name, k, **attrs) if traced else nullcontext({})

    def build_inputs(self) -> None:
        raise NotImplementedError

    def open(self) -> None:
        """After the inputs are built: read them."""

    def prepare_checks(self) -> None:
        """After warm-up, untimed: compute expected outputs."""

    def prepare_op(self, k: int) -> None:
        """Untimed state reset before operation ``k``."""

    def op(self, k: int, traced: bool):
        raise NotImplementedError

    def warm_up(self) -> None:
        """``warm_ops`` untimed operations: JIT, Python workers, broadcasts."""
        for k in range(-1, -1 - self.warm_ops, -1):
            self.prepare_op(k)
            _, check = self.op(k, False)
            if not check():
                raise RuntimeError("warm-up output failed its check")

    def at_boundary(self) -> bool:
        """True between operations that leave no state for the next one;
        a run starts and ends there."""
        return True

    def check_run(self) -> bool:
        return True

    def probe_pages(self) -> list[tuple[str, bytes]]:
        raise NotImplementedError

    def splits(self) -> int:
        raise NotImplementedError

    def layer_metrics(self, counters: list[dict]) -> dict:
        return {}

    def _sample_ids(self, n: int) -> list[int]:
        return sorted(random.Random(f"sample:{self.seed}").sample(range(n), SAMPLE))


# ----------------------------------------------------------------------
# crawl_filter: label a crawl and aggregate its metrics
# ----------------------------------------------------------------------

class CrawlFilter(Workload):
    name = "crawl_filter"
    # operations kept getting faster up to the fifth or sixth; with two
    # warm-up operations, ten runs spread 0.21 of their median, not 0.16
    warm_ops = 4

    def __init__(self, *a, n: int = CRAWL_PAGES):
        super().__init__(*a)
        self.n = n
        self.path = os.path.join(self.work, "pages")

    def build_inputs(self) -> None:
        inputs.write_pages(self.spark, self.path, self.n, self.seed)

    def open(self) -> None:
        self.pages = self.spark.read.parquet(self.path)

    def splits(self) -> int:
        return self.pages.rdd.getNumPartitions()

    def op(self, k: int, traced: bool):
        with self.span("pipeline.run_pipeline+metrics", k, traced):
            rows = metrics(run_pipeline(self.spark, self.pages)).collect()
        docs = sum(r["docs"] for r in rows)
        return self.n, lambda: docs == self.n or _fail(
            f"metrics rows sum to {docs}, not {self.n}")

    def probe_pages(self) -> list[tuple[str, bytes]]:
        return [(p["url"], p["html"]) for p in
                (gen_page(i, self.seed) for i in self._sample_ids(self.n))]

    def check_run(self) -> bool:
        """Labels of a seeded sample equal py_label_page field by field."""
        hm, pm = default_hashed_model(), default_ppl_model()
        thr = ppl_thresholds_for(pm)
        want = {url: py_label_page(url, html, hm, pm, thr)
                for url, html in self.probe_pages()}
        sample = self.pages.filter(F.col("url").isin(list(want)))
        got = {r["url"]: r.asDict() for r in run_pipeline(self.spark, sample).collect()}
        if set(got) != set(want):
            return _fail(f"{len(set(want) ^ set(got))} sampled urls missing or extra")
        ok = True  # every field equal, so keep F1 is 1.0
        for url, w in want.items():
            g = got[url]
            bad = [k for k in w if not _same(g[k], w[k])]
            if g["disposition"] != py_disposition(w["keep"], w["lang_pred"],
                                                  DEFAULT_UNRESOLVED_POLICY):
                bad.append("disposition")
            if bad:
                ok = _fail(f"label of {url} differs in {bad}")
        return ok


# ----------------------------------------------------------------------
# resume_write: resumable, bucketed write of Common-Crawl-size pages
# ----------------------------------------------------------------------

class ResumeWrite(CrawlFilter):
    """One operation is one resumable step, ``run_with_resume(...,
    max_groups=1)``: label, write and commit one bucket group. An output
    directory starts empty and is complete after ``N_BUCKETS //
    GROUP_SIZE`` operations; a run measures whole directories only, so
    every run times each group position equally often."""

    name = "resume_write"

    def __init__(self, *a):
        super().__init__(*a, n=RESUME_PAGES)
        self.dirs = 0  # output directories started
        self.group = 0  # groups committed in the current one

    def build_inputs(self) -> None:
        inputs.write_pages(self.spark, self.path, self.n, self.seed, padded=True)

    def prepare_checks(self) -> None:
        bucket = F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS))
        counts = dict(self.pages.groupBy(bucket).count().collect())
        self.want_docs = {b: counts.get(b, 0) for b in range(N_BUCKETS)}
        # the labels of the same seed's compact pages by py_label_page,
        # which crawl_filter's check holds its metrics to
        hm, pm = default_hashed_model(), default_ppl_model()
        thr = ppl_thresholds_for(pm)
        self.want_kept = 0
        self.want_drop: dict[str, int] = {}
        for i in range(self.n):
            page = gen_page(i, self.seed)
            label = py_label_page(page["url"], page["html"], hm, pm, thr)
            self.want_kept += bool(label["keep"])
            if label["drop_rule"] is not None:
                rule = label["drop_rule"]
                self.want_drop[rule] = self.want_drop.get(rule, 0) + 1

    def at_boundary(self) -> bool:
        return self.group == 0

    def op(self, k: int, traced: bool):
        out = os.path.join(self.work, f"out-{self.dirs}")
        g = self.group
        # run_with_resume takes the lowest buckets not yet in the manifest
        buckets = range(g * GROUP_SIZE, (g + 1) * GROUP_SIZE)
        with self.span("resume.run_with_resume", k, traced, max_groups=1) as sp:
            done = run_with_resume(self.spark, self.pages, out, N_BUCKETS,
                                   GROUP_SIZE, max_groups=1)
        self.group += 1
        last = self.group == N_BUCKETS // GROUP_SIZE
        if last:
            self.dirs, self.group = self.dirs + 1, 0
        docs = sum(self.want_docs[b] for b in buckets)
        if traced:
            files = [os.path.join(d, f)
                     for b in buckets
                     for d, _, fs in os.walk(os.path.join(out, LABELS_DIR, f"bucket={b}"))
                     for f in fs if f.endswith(".parquet")]
            self.records.append({
                "docs": docs, "group_s": sp["end"] - sp["start"],
                "files": len(files), "write_b": sum(os.path.getsize(f) for f in files),
            })

        def check() -> bool:
            if done != 1:
                return _fail(f"{done} groups ran, not 1")
            return self._check(out, buckets.stop, last)
        return docs, check

    def warm_up(self) -> None:
        # a whole directory, one group at a time: the groups of the first
        # one ran 25-40 % slower than later ones. The checks' expected
        # values are not known yet
        out = os.path.join(self.work, "out-warm")
        for _ in range(N_BUCKETS // GROUP_SIZE):
            run_with_resume(self.spark, self.pages, out, N_BUCKETS, GROUP_SIZE, max_groups=1)
        shutil.rmtree(out)

    def _check(self, out: str, n_done: int, last: bool) -> bool:
        """The manifest holds exactly the buckets below ``n_done``, each
        with its input count; once complete, its sums match crawl_filter."""
        rows = read_manifest(self.spark, out).collect()
        if last:
            shutil.rmtree(out, ignore_errors=True)
        docs = {r["bucket"]: r["docs"] for r in rows}
        if len(rows) != n_done or docs != {b: self.want_docs[b] for b in range(n_done)}:
            return _fail("manifest bucket docs differ from pmod(xxhash64(url)) counts")
        if not last:
            return True
        if sum(docs.values()) != self.n:
            return _fail(f"manifest docs sum {sum(docs.values())}, not {self.n}")
        kept = sum(r["kept"] for r in rows)
        drops = {c[len("drop_"):]: sum(r[c] for r in rows)
                 for c in rows[0].asDict() if c.startswith("drop_")}
        want = {rule: self.want_drop.get(rule, 0) for rule in drops}
        if kept != self.want_kept or drops != want or set(self.want_drop) - set(drops):
            return _fail(f"manifest kept/drop sums {kept} {drops} differ from "
                         f"crawl_filter's {self.want_kept} {self.want_drop}")
        return True

    def probe_pages(self) -> list[tuple[str, bytes]]:
        pool = inputs.pad_pool(self.seed)
        return [(url, inputs.pad_html(html, i, self.seed, pool))
                for i, (url, html) in zip(self._sample_ids(self.n), super().probe_pages())]

    def check_run(self) -> bool:
        return True  # every op's manifest is checked against the expected counts

    def layer_metrics(self, counters: list[dict]) -> dict:
        """Per group, except ``resume.groups``: the groups one output
        directory takes, which every operation's check confirms."""
        scanned = [sum(rows for desc, _, rows in c["scans"] if self.path in desc)
                   for c in counters]
        manifest = [sum(s for s, descs in c["executions"] if "_manifest" in descs)
                    for c in counters]
        group_s = [r["group_s"] for r in self.records]
        return {
            "resume.groups": N_BUCKETS // GROUP_SIZE,
            "resume.group_s_p50": median(group_s),
            "resume.group_s_max": max(group_s, default=0.0),
            "resume.scan_amplification": median(
                [rows / r["docs"] for rows, r in zip(scanned, self.records)]),
            "resume.write_mb": median([r["write_b"] for r in self.records]) / 2**20,
            "resume.files_written": median([r["files"] for r in self.records]),
            "resume.manifest_s": median(manifest),
        }


# ----------------------------------------------------------------------
# dedup probe: one crawl drop against a standing, indexed corpus
# ----------------------------------------------------------------------

class DedupDaily(Workload):
    """Measured only as a layer probe. As a workload of its own, its 6-7 s
    operations, mostly fixed Spark cost, ran steadily only after two
    untimed ones; a run short enough for the time allowed to all runs
    timed one, and runs spread 0.16-0.28 of their median over seeds."""

    name = "dedup_daily"

    def __init__(self, *a):
        super().__init__(*a)
        self.corpus_path = os.path.join(self.work, "corpus")
        self.drop_path = os.path.join(self.work, "drop")
        self.index_base = os.path.join(self.work, "index-base")
        self.verified: set | None = None

    def build_inputs(self) -> None:
        self.planted = inputs.planted_pairs(self.seed, CORPUS_DOCS, DROP_DOCS)
        inputs.write_docs(self.spark, self.corpus_path, self.seed, 0, CORPUS_DOCS)
        inputs.write_docs(self.spark, self.drop_path, self.seed, CORPUS_DOCS,
                          DROP_DOCS, self.planted)
        save_dedup_index(self.spark, self.spark.read.parquet(self.corpus_path),
                         self.index_base)

    def open(self) -> None:
        self.corpus = self.spark.read.parquet(self.corpus_path)
        self.drop = self.spark.read.parquet(self.drop_path)

    def _index(self, k: int) -> str:
        return os.path.join(self.work, f"index-{k}")

    def prepare_op(self, k: int) -> None:
        # every operation starts from the index as set-up built it
        shutil.copytree(self.index_base, self._index(k))

    def op(self, k: int, traced: bool):
        idx = self._index(k)
        counter = self.spark.sparkContext.accumulator(0)
        cap = {} if traced else None
        with self.span("dedup.probe", k, traced):
            with pinned_scope():
                pairs = minhash_neardup_join_indexed(
                    self.spark, self.drop, idx, self.corpus, threshold=THRESHOLD,
                    counter=counter, cap_stats=cap,
                ).collect()
        with self.span("dedup.update", k, traced):
            update_dedup_index(self.spark, self.drop, idx)
        found = {(r["id_new"], r["id_old"]): r["jaccard"] for r in pairs}
        if traced:
            self.records.append({"docs_signed": counter.value, "pairs": len(pairs),
                                 "capped": cap.get("capped_buckets", 0), "index": idx})
        return DROP_DOCS, lambda: self._check(found, counter.value, idx)

    def _check(self, found: dict, signed: int, idx: str) -> bool:
        shutil.rmtree(idx, ignore_errors=True)
        if signed != DROP_DOCS:
            return _fail(f"signed {signed} docs, drop holds {DROP_DOCS}")
        if self.verified is not None:
            return found == self.verified or _fail("pairs differ from the first op's")
        ids = {i for pair in found for i in pair}
        texts = dict(self.corpus.unionByName(self.drop)
                     .filter(F.col("doc_id").isin(list(ids))).collect())
        for (a, b), jac in found.items():
            exact = inputs.jaccard(texts[a], texts[b])
            if exact < THRESHOLD - 5e-7 or abs(exact - jac) > 1e-6:
                return _fail(f"pair {a},{b} reports {jac}, exact Jaccard {exact}")
        missed = [(d, s, j) for d, (s, j, _) in self.planted.items()
                  if j >= RECALL_FROM and (d, s) not in found]
        if missed:
            return _fail(f"{len(missed)} planted pairs missed, e.g. {missed[:3]}")
        self.verified = found
        return True

    def layer_metrics(self, counters: list[dict]) -> dict:
        index_mb = [sum(b for desc, b, _ in c["scans"] if f"{r['index']}/" in desc)
                    for c, r in zip(counters, self.records)]
        return {
            "dedup.probe_s": median(self.tracer.durations("dedup.probe")),
            "dedup.update_s": median(self.tracer.durations("dedup.update")),
            "dedup.docs_signed": median([r["docs_signed"] for r in self.records]),
            "dedup.pairs_out": median([r["pairs"] for r in self.records]),
            "dedup.capped_buckets": median([r["capped"] for r in self.records]),
            "dedup.index_read_mb": median(index_mb) / 2**20,
            "dedup.shuffle_mb": median([c["shuffle_b"] for c in counters]) / 2**20,
            "dedup.spill_mb": median([c["spill_b"] for c in counters]) / 2**20,
        }


WORKLOADS = {w.name: w for w in (CrawlFilter, ResumeWrite)}
# workload -> layer probes its traced run makes after its own operations
LAYER_PROBES = {"crawl_filter": (DedupDaily,)}
PROBE_OPS = 2
