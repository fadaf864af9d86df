"""The three benchmark workloads: corpus set-up, one pass, output checks.

All inputs come from ``corpus.generate_corpus(seed=...)``; pages are keyed
by ``url`` (unique per page by construction).  Set-up pins the sizing with
``size_filters``.  On ``bulk_web`` the corpus halves are built once per run
with it, and every pass OR-merges them with ``merge_registries``.

* ``bulk_web`` -- few labels (8 zipfian ``lang`` values), many pages and a
  large vocabulary, so token hashes rarely repeat: per-page shingle, hash
  and probe kernels and the Arrow transfer do the work.
* ``many_labels`` -- filters of 1-2 pages for each of 40 URL hosts
  (``skew.url_domain_col``), default small vocabulary: per-filter work
  dominates the Bloom build (maker's per-filter reduce/assemble and
  companion sketches, the registry collect).  Every generated page is
  classified against them (the crawl probed against per-host filters).
* ``small_batches`` -- one caller folding small page batches into a running
  registry (the ``streaming.build_stream`` fold, as batch calls): fixed
  per-job cost dominates, and maker's merge path runs beside the build.
"""

from __future__ import annotations

import hashlib
import pickle
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import Window
from pyspark.sql import functions as F

from biobloom_spark.config import MULTI_MATCH, NO_MATCH, BloomParams
from biobloom_spark.corpus import generate_corpus
from biobloom_spark.operators.categorizer import summarize_fused
from biobloom_spark.operators.maker import (
    build_filters,
    load_registry,
    merge_registries,
    size_filters,
)
from biobloom_spark.operators.mibf import build_mibf, classify_mibf, mibf_summarize
from biobloom_spark.operators.skew import url_domain_col

from tracing import AUX_GROUP

ID_COL = "url"

#: times a pass repeats each classify call (Bloom and miBF).  The calls take
#: about 1 s and jitter by 10-30%, so one sample is too few.  The first call
#: on a fresh corpus is the slowest (first-touch cost); the median of four
#: drops it with the fastest.
CLASSIFY_REPS = 4


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    key: str
    corpus_kw: dict = field(default_factory=dict)
    #: > 0: fold the corpus in batches of this many pages (small_batches)
    batch_pages: int = 0
    #: > 0: build from ``pages_kept`` pages of the ``top_keys`` most frequent
    #: keys, at least one per key, so every seed builds exactly that many
    #: filters over exactly that many pages (the URL-host count varies
    #: with the seed); classify every generated page
    top_keys: int = 0
    pages_kept: int = 0
    #: times a pass repeats ``build_filters``; ``build_mibf`` runs once
    build_reps: int = 3
    #: build the corpus halves with the pinned sizing and OR-merge them in
    #: every pass.  Only where every filter holds many pages: filters of a
    #: page or two built with ``size_filters``' sizing exceed their target
    #: FPR (occupancy_fpr 2.5x target_fpr with 256 URL hosts)
    merge: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload("bulk_web", pages=1200, key="lang", corpus_kw={"vocab_size": 100_000},
                 merge=True),
        Workload("many_labels", pages=800, key="host", top_keys=40, pages_kept=60,
                 build_reps=2),
        Workload("small_batches", pages=1200, key="lang", batch_pages=400),
    )
}


@dataclass
class Corpus:
    docs: object  # cached DataFrame the filters are built from
    pages: int
    queries: object  # cached DataFrame that is classified (``docs`` or a superset)
    query_pages: int
    sizing: dict  # pinned (m, h) per key, from size_filters over the whole corpus
    #: pages per key, per batch (batch 0 only for unbatched workloads)
    key_pages: dict[int, dict[str, int]] = field(default_factory=dict)
    batch_ids: list[int] = field(default_factory=list)
    #: the two halves' registries built with ``sizing`` (``merge`` workloads)
    halves: list = field(default_factory=list)
    #: filter_id -> bitmap of the whole corpus built with ``sizing``
    reference: dict[str, bytes] = field(default_factory=dict)


def make_corpus(spark, wl: Workload, seed: int, cores: int) -> tuple[Corpus, float]:
    """Generate, cache and size the corpus.

    Returns the corpus and the generate+cache seconds (``corpus.generate_s``).
    """
    t0 = time.perf_counter()
    docs = generate_corpus(spark, wl.pages, seed=seed, num_partitions=cores, **wl.corpus_kw)
    if wl.key == "host":
        docs = docs.withColumn("host", url_domain_col())
    queries = None
    if wl.top_keys:
        queries = docs = docs.select(ID_COL, "text", wl.key).cache()
        top = (
            docs.groupBy(wl.key).count()
            .orderBy(F.desc("count"), F.asc(wl.key)).limit(wl.top_keys)
        )
        docs = docs.join(F.broadcast(top.select(wl.key)), wl.key)
        # one page per key first, then the rest in hash order
        h = F.xxhash64(ID_COL)
        rank = F.row_number().over(Window.partitionBy(wl.key).orderBy(h))
        docs = (
            docs.withColumn("_r", rank).orderBy(F.col("_r") > 1, h).limit(wl.pages_kept)
            .repartition(cores, ID_COL)  # the limit leaves one partition
        )
    cols = [ID_COL, "text", wl.key]
    if wl.batch_pages:
        page_no = F.regexp_extract(F.col("url"), r"page(\d+)$", 1).cast("long")
        docs = docs.withColumn("batch", (page_no / wl.batch_pages).cast("int"))
        cols.append("batch")
    docs = docs.select(*cols).cache()
    pages = docs.count()
    if wl.pages_kept and pages != wl.pages_kept:
        raise ValueError(f"seed {seed}: only {pages} pages of the top {wl.top_keys} keys")
    queries = queries if queries is not None else docs
    query_pages = queries.count()
    gen_s = time.perf_counter() - t0
    # the whole corpus is known up front, so one pinned sizing covers every
    # part that is later merged (or folded) into one registry
    sizing = size_filters(docs, wl.key, "text", BloomParams())
    return Corpus(docs, pages, queries, query_pages, sizing), gen_s


def expected_counts(spark, wl: Workload, corpus: Corpus) -> None:
    """Pages per (batch, key): the floor for each filter's summary hits."""
    spark.sparkContext.setJobGroup(AUX_GROUP, AUX_GROUP)
    batch = F.col("batch") if wl.batch_pages else F.lit(0)
    rows = corpus.docs.groupBy(batch.alias("b"), F.col(wl.key).alias("k")).count().collect()
    for r in rows:
        corpus.key_pages.setdefault(int(r["b"]), {})[str(r["k"])] = int(r["count"])
    corpus.batch_ids = sorted(corpus.key_pages)


def _pinned_build(spark, wl: Workload, corpus: Corpus, docs):
    return _materialize(build_filters(
        spark, docs, key_col=wl.key, id_col=ID_COL, keys=list(corpus.sizing),
        expected_sizing=corpus.sizing,
    ))


def prepare_merge(rec, spark, wl: Workload, corpus: Corpus) -> None:
    """Build the corpus halves and the whole corpus with the pinned sizing.

    Done once per run (untimed): every pass merges the two halves and
    checks the result against the whole-corpus bitmaps.  The whole build's
    own FPR is checked here too.
    """
    if not wl.merge:
        return
    half = F.pmod(F.xxhash64(ID_COL), F.lit(2))
    for i in (0, 1):
        part = corpus.docs.filter(half == i)
        corpus.halves.append(
            rec.call("maker.build.pinned", lambda: _pinned_build(spark, wl, corpus, part))
        )
    whole = rec.call("maker.build.pinned", lambda: _pinned_build(spark, wl, corpus, corpus.docs))
    filters = rec.call("maker.load_registry.pinned", lambda: load_registry(whole))
    corpus.reference = {f["filter_id"]: f["bitmap"] for f in filters}
    ratio = fpr_ratio(filters)
    rec.check(ratio <= 1.0, f"pinned registry occupancy_fpr/target_fpr = {ratio:.3f} > 1")
    whole.unpersist()


def _materialize(df):
    """Run a lazy registry plan once and keep its rows (cache + count)."""
    df = df.cache()
    df.count()
    return df


@dataclass
class StepResult:
    """One caller-visible step: a full pass, or one folded batch."""

    pages: int  # built from
    query_pages: int  # classified
    wall_s: float
    build_s: list[float]  # build_filters (+ merge_registries, batches) + load_registry
    classify_s: list[float]  # summarize_fused calls
    mibf_classify_s: list[float]  # classify_mibf + mibf_summarize calls


@dataclass
class PassResult:
    steps: list[StepResult]
    mibf_build_pages: int
    mibf_build_s: list[float]
    digest: str
    filters: list[dict]
    registry: object
    sketch: object


def fpr_ratio(filters) -> float:
    """Largest occupancy_fpr / target_fpr over a registry's filters."""
    return max(f["fpr"] / f["target_fpr"] for f in filters)


def _check_outputs(rec, filters, summary, msummary, pages: int, key_pages: dict) -> None:
    ids = {f["filter_id"] for f in filters}
    ratio = fpr_ratio(filters)
    rec.check(ratio <= 1.0, f"registry occupancy_fpr/target_fpr = {ratio:.3f} > 1")
    by_id = {r["filter_id"]: r for r in summary}
    short = [
        k for k, n in key_pages.items() if k in ids and int(by_id[k]["hits"]) < n
    ]
    rec.check(not short, f"Bloom false negatives: hits < pages for {short[:5]}")
    assigned = sum(int(by_id[f]["unique"]) for f in ids)
    assigned += int(by_id[MULTI_MATCH]["hits"]) + int(by_id[NO_MATCH]["hits"])
    rec.check(assigned == pages, f"unique+multiMatch+noMatch = {assigned} != {pages} pages")
    mibf_docs = sum(int(r["n_docs"]) for r in msummary)
    rec.check(mibf_docs == pages, f"mibf_summarize n_docs = {mibf_docs} != {pages} pages")


def _digest_bitmaps(h, filters) -> None:
    for f in sorted(filters, key=lambda f: f["filter_id"]):
        h.update(f["filter_id"].encode())
        h.update(f["bitmap"])


def _digest(h, filters, sketch, summary, msummary) -> None:
    _digest_bitmaps(h, filters)
    h.update(sketch.ids.tobytes())
    for r in summary:
        h.update(repr(tuple(r)).encode())
    for r in msummary:
        h.update(repr(tuple(r)).encode())


def _bloom_classify(rec, spark, docs, filters):
    return rec.call(
        "categorizer", lambda: summarize_fused(spark, docs, filters, id_col=ID_COL).collect()
    )


def _mibf_classify(rec, spark, docs, sketch):
    return rec.call(
        "mibf.classify",
        lambda: mibf_summarize(classify_mibf(spark, docs, sketch, id_col=ID_COL)).collect(),
    )


def run_pass(rec, spark, wl: Workload, corpus: Corpus, pass_id: int) -> PassResult:
    if wl.batch_pages:
        return _batches_pass(rec, spark, wl, corpus, pass_id)
    span = rec.open_span("pass", f"{wl.name}.{pass_id}")
    docs, key = corpus.docs, wl.key
    reps = range(CLASSIFY_REPS)
    regs, bitmaps, build_s = [], [], []
    for _ in range(wl.build_reps):
        if regs:
            regs[-1].unpersist()
        regs.append(rec.call("maker.build", lambda: _materialize(
            build_filters(spark, docs, key_col=key, id_col=ID_COL))))
        filters = rec.call("maker.load_registry", lambda: load_registry(regs[-1]))
        build_s.append(rec.last_s("maker.build") + rec.last_s("maker.load_registry"))
        bitmaps.append([f["bitmap"] for f in filters])
    if wl.merge:
        merged = rec.call("maker.merge", lambda: _materialize(merge_registries(*corpus.halves)))
        merged_filters = rec.call("maker.load_registry", lambda: load_registry(merged))
        merged.unpersist()
    summaries, classify_s = [], []
    for _ in reps:
        summaries.append(_bloom_classify(rec, spark, corpus.queries, filters))
        classify_s.append(rec.last_s("categorizer"))
    sketch = rec.call("mibf.build", lambda: build_mibf(spark, docs, key_col=key))
    mibf_build_s = [rec.last_s("mibf.build")]
    msummaries, mibf_classify_s = [], []
    for _ in reps:
        msummaries.append(_mibf_classify(rec, spark, corpus.queries, sketch))
        mibf_classify_s.append(rec.last_s("mibf.classify"))
    wall = rec.close_span(span)
    summary, msummary = summaries[0], msummaries[0]
    rec.check(all(b == bitmaps[0] for b in bitmaps), "repeated build_filters bitmaps differ")
    if wl.merge:
        merged_bitmaps = {f["filter_id"]: f["bitmap"] for f in merged_filters}
        rec.check(merged_bitmaps == corpus.reference,
                  "merge_registries of the halves differs from the whole-corpus build")
        ratio = fpr_ratio(merged_filters)
        rec.check(ratio <= 1.0, f"merged registry occupancy_fpr/target_fpr = {ratio:.3f} > 1")
    rec.check(all(s == summary for s in summaries), "repeated summarize_fused calls differ")
    rec.check(all(s == msummary for s in msummaries), "repeated classify_mibf calls differ")
    _check_outputs(rec, filters, summary, msummary, corpus.query_pages, corpus.key_pages[0])
    h = hashlib.sha256()
    _digest(h, filters, sketch, summary, msummary)
    if wl.merge:
        _digest_bitmaps(h, merged_filters)
    step = StepResult(corpus.pages, corpus.query_pages, wall, build_s, classify_s,
                      mibf_classify_s)
    return PassResult([step], corpus.pages, mibf_build_s, h.hexdigest(), filters, regs[-1],
                      sketch)


def _batches_pass(rec, spark, wl: Workload, corpus: Corpus, pass_id: int) -> PassResult:
    """Fold every batch into a running registry, classifying each batch.

    The miBF has no merge path, so it is built once per pass over the
    first batch and each batch is classified against it.
    """
    key, keys = wl.key, list(corpus.sizing)
    batch_docs = {b: corpus.docs.filter(F.col("batch") == b) for b in corpus.batch_ids}
    first = corpus.batch_ids[0]
    sketch = rec.call("mibf.build", lambda: build_mibf(spark, batch_docs[first], key_col=key))
    mibf_build_s = [rec.last_s("mibf.build")]
    h = hashlib.sha256()
    steps, running = [], None
    for b in corpus.batch_ids:
        span = rec.open_span("batch", f"{wl.name}.{pass_id}.{b}")
        bd, pages = batch_docs[b], sum(corpus.key_pages[b].values())
        reg = rec.call(
            "maker.build",
            lambda: _materialize(build_filters(
                spark, bd, key_col=key, id_col=ID_COL, keys=keys,
                expected_sizing=corpus.sizing,
            )),
        )
        build_s = rec.last_s("maker.build")
        if running is not None:
            merged = rec.call("maker.merge", lambda: _materialize(merge_registries(running, reg)))
            build_s += rec.last_s("maker.merge")
            running.unpersist()
            reg.unpersist()
            running = merged
        else:
            running = reg
        filters = rec.call("maker.load_registry", lambda: load_registry(running))
        build_s += rec.last_s("maker.load_registry")
        summary = _bloom_classify(rec, spark, bd, filters)
        msummary = _mibf_classify(rec, spark, bd, sketch)
        wall = rec.close_span(span)
        steps.append(StepResult(
            pages, pages, wall, [build_s], [rec.last_s("categorizer")], [rec.last_s("mibf.classify")],
        ))
        _check_outputs(rec, filters, summary, msummary, pages, corpus.key_pages[b])
        _digest(h, filters, sketch, summary, msummary)
    return PassResult(
        steps, sum(corpus.key_pages[first].values()), mibf_build_s, h.hexdigest(),
        filters, running, sketch,
    )


def registry_bytes(spark, registry) -> int:
    """Bytes of every binary column the registry collect moves."""
    spark.sparkContext.setJobGroup(AUX_GROUP, AUX_GROUP)
    binary = [f.name for f in registry.schema.fields if f.dataType.typeName() == "binary"]
    row = registry.select(
        sum((F.coalesce(F.length(c), F.lit(0)) for c in binary), F.lit(0)).alias("b")
    ).agg(F.sum("b")).collect()[0]
    return int(row[0] or 0)


def broadcast_bytes(filters: list[dict]) -> int:
    """Pickled size of the filter list ``summarize_fused`` broadcasts."""
    return len(pickle.dumps(filters, protocol=pickle.HIGHEST_PROTOCOL))


def step_medians(passes: list[PassResult]) -> dict[str, float]:
    steps = [s for p in passes for s in p.steps]
    med = statistics.median
    return {
        "bloom_build_pages_per_s": med(s.pages / b for s in steps for b in s.build_s),
        "bloom_classify_pages_per_s": med(
            s.query_pages / c for s in steps for c in s.classify_s
        ),
        "mibf_build_pages_per_s": med(
            p.mibf_build_pages / b for p in passes for b in p.mibf_build_s
        ),
        "mibf_classify_pages_per_s": med(
            s.query_pages / c for s in steps for c in s.mibf_classify_s
        ),
        "pass_s": med(s.wall_s for s in steps),
    }
