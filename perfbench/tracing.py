"""Tracing for the benchmark's traced run, all from outside the program.

- ``Tracer``: spans around the benchmark's calls into public functions,
  kept in memory and written out as JSON when the run ends.
- ``SparkCounters``: task and SQL metrics of the actions run since a
  mark, read from the driver's own status stores over py4j.
- ``layer_probe``: the per-document label path, called function by
  function in ``py_label_page``'s order with a timer around each call.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager

from hyperpolyglot_spark.functions.extract import extract_text, meta_lang_tag
from hyperpolyglot_spark.functions.langid import default_hashed_model
from hyperpolyglot_spark.functions.perplexity import (
    default_ppl_model,
    perplexity_py,
    ppl_thresholds_for,
)
from hyperpolyglot_spark.functions.quality import MAX_PPL, py_keep_drop, py_signals
from hyperpolyglot_spark.functions.scrub import SCRUB_NAMES, py_scrub
from hyperpolyglot_spark.operators.cascade import detect_lang_py
from hyperpolyglot_spark.plans.pipeline import py_label_page


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, trace: int,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "trace": trace, "parent": parent,
                           "name": name, "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, trace: int, **attrs):
        """Span around a block; nested blocks become its children."""
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.perf_counter(), 0.0, trace, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ----------------------------------------------------------------------
# Spark status stores
# ----------------------------------------------------------------------

_UNITS = {"": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2,
          "GiB": 1024.0**3, "TiB": 1024.0**4,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# ArrowEvalPython metric descriptions (PythonSQLMetrics) -> our names
PYTHON_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_received_b",
}


def parse_metric(text: str | None) -> float:
    """A status-store metric string as a number in bytes, seconds or
    units. Task-aggregated metrics read 'total (min, med, max ...)\\n<total>
    (...)'; only the total is used."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    """Counters of every SQL execution started after ``mark()``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._seq = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._last = -1

    def _executions(self) -> list:
        self._bus.waitUntilEmpty()
        return list(self._seq(self._sql.executionsList()))

    def mark(self) -> None:
        ids = [int(e.executionId()) for e in self._executions()]
        self._last = max(ids, default=-1)

    def since_mark(self) -> dict:
        """Aggregate over the executions since the last mark, then move
        the mark past them."""
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        out.update(tasks=0, failed_tasks=0, gc_s=0.0, shuffle_b=0.0,
                   spill_b=0.0, task_skew=0.0)
        scans: list[tuple[str, float, float]] = []  # (desc, bytes, rows)
        executions: list[tuple[float, str]] = []  # (seconds, node descs)
        stages: set[int] = set()
        new = [e for e in self._executions() if int(e.executionId()) > self._last]
        for e in new:
            eid = int(e.executionId())
            self._last = max(self._last, eid)
            done = e.completionTime()
            secs = ((done.get().getTime() - e.submissionTime()) / 1e3
                    if done.isDefined() else 0.0)
            values = self._seq(self._sql.executionMetrics(eid))
            descs = []
            for node in self._seq(self._sql.planGraph(eid).allNodes()):
                name, desc = node.name(), node.desc()
                descs.append(desc)
                mets = {m.name(): parse_metric(values.get(m.accumulatorId()))
                        for m in self._seq(node.metrics())}
                if name == "ArrowEvalPython":
                    for k, v in PYTHON_METRICS.items():
                        out[v] += mets.get(k, 0.0)
                elif name.startswith("Scan parquet"):
                    scans.append((desc, mets.get("size of files read", 0.0),
                                  mets.get("number of output rows", 0.0)))
            executions.append((secs, "\n".join(descs)))
            stages.update(int(s) for s in self._seq(e.stages()))
        hot_run, hot = -1, None
        for sid in sorted(stages):
            for sd in self._seq(self._app.stageData(
                    sid, False, self._no_status, False, self._no_quantiles)):
                if str(sd.status()) == "SKIPPED":
                    continue
                out["tasks"] += int(sd.numCompleteTasks())
                out["failed_tasks"] += int(sd.numFailedTasks())
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_b"] += sd.shuffleWriteBytes()
                out["spill_b"] += sd.diskBytesSpilled()
                if sd.executorRunTime() > hot_run:
                    hot_run, hot = sd.executorRunTime(), (sid, sd.attemptId())
        if hot is not None:
            durs = [t.duration().get() for t in
                    self._seq(self._app.taskList(hot[0], hot[1], 100000))
                    if t.duration().isDefined()]
            if durs and statistics.median(durs) > 0:
                out["task_skew"] = max(durs) / statistics.median(durs)
        out["scans"] = scans
        out["executions"] = executions
        return out


# ----------------------------------------------------------------------
# per-document layer probe
# ----------------------------------------------------------------------

CHEAP_STRATEGIES = ("urlhint", "tld", "meta", "heuristics")


def _label_traced(url: str, html: bytes, hm, pm, thr, t: dict) -> dict:
    """py_label_page's body under the default unresolved policy, with
    the time of each public call added to ``t``. The caller checks that
    the result equals py_label_page."""
    c = time.perf_counter
    t0 = c()
    text = extract_text(html)
    meta = meta_lang_tag(html)
    t1 = c()
    lang_pred, strategy = detect_lang_py(url, text, meta, hm)
    t2 = c()
    sig = py_signals(text, url)
    keep, drop_rule = py_keep_drop(text, url, signals=sig)
    t3 = c()
    t.update(extract=t1 - t0, detect=t2 - t1, quality=t3 - t2,
             strategy=strategy, cheap_keep=keep)
    ppl = None
    if keep:
        ppl = perplexity_py(text, lang_pred, pm)
        if ppl is not None and ppl > thr.get(lang_pred, MAX_PPL):
            keep, drop_rule = False, "perplexity"
        t4 = c()
        t["perplexity"] = t4 - t3
        t3 = t4
    if keep:
        scrubbed, counts = py_scrub(text)
        t["scrub"] = c() - t3
    else:
        scrubbed, counts = None, {n: 0 for n in SCRUB_NAMES}
    return {
        "url": url, "text": text, "lang_pred": lang_pred,
        "strategy": strategy, "keep": keep, "drop_rule": drop_rule,
        "scrubbed_text": scrubbed,
        **{f"scrub_{n}": counts[n] for n in SCRUB_NAMES},
        "n_chars": int(sig["n_chars"]), "n_words": int(sig["n_words"]),
        "symbol_ratio": sig["symbol_ratio"], "rep3_ratio": sig["rep3_ratio"],
        "stop_density": sig["stop_density"], "perplexity": ppl,
    }


def _us(xs: list[float]) -> float:
    return 1e6 * sum(xs) / len(xs) if xs else 0.0


def _frac(a: int, b: int) -> float:
    return a / b if b else 0.0


def layer_probe(pages: list[tuple[str, bytes]], tracer: Tracer, trace: int) -> dict:
    """Per-layer costs and outcome shares over ``pages`` (url, html),
    single core, plus the spec rate of py_label_page itself. Raises if
    the composed calls disagree with py_label_page on any page."""
    hm, pm = default_hashed_model(), default_ppl_model()
    thr = ppl_thresholds_for(pm)
    for url, html in pages[: max(1, len(pages) // 4)]:  # warm caches
        py_label_page(url, html, hm, pm, thr)

    t0 = time.perf_counter()
    want = [py_label_page(url, html, hm, pm, thr) for url, html in pages]
    spec_s = time.perf_counter() - t0
    tracer.add("probe.py_label_page", t0, t0 + spec_s, trace, docs=len(pages))

    root = tracer.add("probe.layers", time.perf_counter(), 0.0, trace)
    times = []
    for (url, html), ref in zip(pages, want):
        t: dict = {}
        s = time.perf_counter()
        got = _label_traced(url, html, hm, pm, thr, t)
        for layer in ("extract", "detect", "quality", "perplexity", "scrub"):
            if layer in t:
                tracer.add(f"probe.{layer}", s, s + t[layer], trace, root)
                s += t[layer]
        if got != ref:
            diff = sorted(k for k in ref if got.get(k) != ref[k])
            raise AssertionError(f"layer probe differs from py_label_page on {url}: {diff}")
        times.append((t, ref))
    tracer.spans[root]["end"] = time.perf_counter()

    n = len(times)
    cheap = [t["detect"] for t, _ in times if t["strategy"] in CHEAP_STRATEGIES]
    nb = [t for t, _ in times if t["strategy"] not in CHEAP_STRATEGIES]
    lm = [t for t, _ in times if "perplexity" in t]
    kept = [(t, r) for t, r in times if "scrub" in t]
    hits = sum(r[f"scrub_{k}"] for _, r in kept for k in SCRUB_NAMES)
    return {
        "extract.us_per_doc": _us([t["extract"] for t, _ in times]),
        "extract.html_kb_per_doc": sum(len(h) for _, h in pages) / n / 1024,
        "cascade.us_per_doc": _us(cheap),
        "cascade.cheap_resolved_frac": _frac(len(cheap), n),
        "langid.docs_frac": _frac(len(nb), n),
        "langid.us_per_doc": _us([t["detect"] for t in nb]),
        "langid.unresolved_frac": _frac(
            sum(t["strategy"] == "unresolved" for t in nb), len(nb)),
        "quality.us_per_doc": _us([t["quality"] for t, _ in times]),
        "quality.drop_frac": _frac(sum(not t["cheap_keep"] for t, _ in times), n),
        "perplexity.docs_frac": _frac(len(lm), n),
        "perplexity.us_per_doc": _us([t["perplexity"] for t in lm]),
        "perplexity.drop_frac": _frac(sum("scrub" not in t for t in lm), len(lm)),
        "scrub.docs_frac": _frac(len(kept), n),
        "scrub.us_per_doc": _us([t["scrub"] for t, _ in kept]),
        "scrub.hits_per_kdoc": 1000 * hits / n,
        "pipeline.spec_docs_per_s": n / spec_s,
    }
