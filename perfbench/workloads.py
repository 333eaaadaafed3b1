"""Workloads of the sketch benchmark: seeded fixtures, the timed query,
its correctness checks, and the driver-side layer probes.

Every workload follows one protocol:

- ``build(spark, root, seed)`` generates the inputs from the seed,
  writes them as parquet (FILES files, one read partition per file)
  and keeps the exact answers the checks need;
- ``query(spark, fx)`` is the timed call into the package's public
  functions, returning everything the checks read;
- ``check(fx, out)`` returns a list of failed-check messages;
- ``result_bytes(spark, fx, out)`` is the size of the final sketches;
- ``probe(spark, fx, out)`` times single layers outside Spark, on the
  same inputs (traced runs only).

The Python functions handed to Spark are defined inside functions so
that cloudpickle ships them by value: workers cannot import this
directory, only the ``q_digest_spark`` package.
"""

from __future__ import annotations

import math
import os
import time
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from q_digest_spark.functions.text import domain_of, extract_text_series, token_count
from q_digest_spark.operators.aggregate import grouped_quantiles
from q_digest_spark.operators.heavy_hitters import cms_topk_with_keys
from q_digest_spark.operators.multi import SketchSpec, multi_sketch_aggregate
from q_digest_spark.operators.quantiles import (
    HashedCMS,
    HashedHLL,
    hashed_cms_from_bytes,
    hashed_hll_from_bytes,
    qdigest_of,
)
from q_digest_spark.sketches import QDigest, qdigest_from_bytes
from q_digest_spark.sources.webpages import SCHEMA as PAGES_SCHEMA, generate_pdf

FILES = 8  # parquet files per table; one read partition per file
K = 256  # Q-Digest compression parameter used by every workload
ARROW_BATCH = 65536  # rows per Arrow batch, as plans.session configures
QDIGEST_PS = [0.01, 0.25, 0.5, 0.75, 0.99]

# Integer columns as (rows, universe bits): qdigest_of precounts a
# column with universe_bits <= 24 and sends raw rows to Python above it.
PRECOUNT_ROWS, PRECOUNT_UNIVERSE = 10_000_000, 20
RAW_ROWS, RAW_UNIVERSE = 1_000_000, 28
INT_ALPHA = 0.7  # Pareto tail index of the integer columns
PAGES = 10_000
PAGE_ID_STRIDE = 10_000_000  # seed s owns page ids [s * stride, s * stride + PAGES)
LEN_BITS = 16  # universe of text lengths
TOKEN_BITS = 14  # universe of token counts
HLL_P = 14
CMS_DEPTH, CMS_WIDTH = 5, 16384
HLL_SIGMAS = 4  # HLL check: within 4 published standard errors
TOPK = 10
PROBE_DOCS = 2_000  # pages fed to the driver-side text probes


def rank_error(sorted_vals: np.ndarray, p: float, est: int) -> int:
    """Distance between the target rank max(1, ceil(p*n)) and the rank
    interval the estimate occupies in the exact data."""
    n = len(sorted_vals)
    r = max(1, math.ceil(p * n))
    lo = int(np.searchsorted(sorted_vals, est, side="left"))
    hi = int(np.searchsorted(sorted_vals, est, side="right"))
    if lo <= r <= hi:
        return 0
    return min(abs(r - lo), abs(r - hi))


def check_quantiles(tag, sorted_vals, ps, ests, eps) -> list[str]:
    """Q-Digest bound: rank error <= eps * n (+1 for the rank rounding)."""
    bound = eps * len(sorted_vals) + 1
    errs = []
    for p, est in zip(ps, ests):
        e = rank_error(sorted_vals, p, int(est))
        if e > bound:
            errs.append(f"{tag} p{p}: rank error {e} > {bound:.1f}")
    return errs


def write_files(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    step = math.ceil(table.num_rows / FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def spark_cores(spark) -> int:
    return spark.sparkContext.defaultParallelism


class Fixture:
    """Paths, sizes and exact answers of one generated input."""

    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows
        self.exact: dict = {}
        self.generate_s = 0.0


# ------------------------------------------------------------- integers
def pareto_ints(rng, rows: int, bits: int) -> np.ndarray:
    """A discretised Pareto(INT_ALPHA) sample clipped to [0, 2^bits)."""
    xm = 64
    v = (xm * (1.0 - rng.random(rows)) ** (-1.0 / INT_ALPHA)).astype(np.int64) - xm
    return np.minimum(v, (1 << bits) - 1)


class QDigestInts:
    """``qdigest_of`` over two heavy-tailed integer columns, one per
    path that its own rule picks: PRECOUNT_ROWS in a 2^20 universe
    (universe_bits <= 24: the JVM first reduces the rows to a (value,
    count) histogram) and RAW_ROWS in a 2^28 universe (the raw rows go
    to Python through Arrow)."""

    name = "qdigest_ints"
    makes_pages = False
    tables = {"precount": (PRECOUNT_ROWS, PRECOUNT_UNIVERSE), "raw": (RAW_ROWS, RAW_UNIVERSE)}

    def build(self, spark, root: str, seed: int) -> Fixture:
        t0 = time.perf_counter()
        rng = np.random.default_rng(seed)
        fx = Fixture(root, sum(rows for rows, _ in self.tables.values()))
        for name, (rows, bits) in self.tables.items():
            v = pareto_ints(rng, rows, bits)
            write_files(pa.table({"v": v}), os.path.join(root, name))
            v.sort()
            fx.exact[name] = v
        fx.generate_s = time.perf_counter() - t0
        return fx

    def query(self, spark, fx: Fixture):
        return {
            name: qdigest_of(
                spark.read.parquet(os.path.join(fx.path, name)), "v", k=K, universe_bits=bits,
                fanout=spark_cores(spark),
            )
            for name, (_, bits) in self.tables.items()
        }

    def check(self, fx: Fixture, out) -> list[str]:
        errs = []
        for name, (rows, bits) in self.tables.items():
            sk = out[name]
            if sk is None:
                errs.append(f"{name}: qdigest_of returned no sketch")
                continue
            if sk.n != rows:
                errs.append(f"{name}: sketch n {sk.n} != rows {rows}")
            errs += check_quantiles(name, fx.exact[name], QDIGEST_PS, sk.quantiles(QDIGEST_PS), bits / K)
        return errs

    def result_bytes(self, spark, fx: Fixture, out) -> int:
        return sum(len(sk.to_bytes()) for sk in out.values())

    def probe(self, spark, fx: Fixture, out) -> dict:
        # The raw path's partials: one sketch per file, fed its rows.
        path = os.path.join(fx.path, "raw")
        parts = [(0, pq.read_table(os.path.join(path, f)).column("v").to_numpy(), None)
                 for f in sorted(os.listdir(path))]
        res = qdigest_probe(partial(QDigest, K, RAW_UNIVERSE), parts)
        res["qdigest.nodes"] = out["raw"].num_nodes
        return res


# ---------------------------------------------------------------- pages
def page_columns(pdf: pd.DataFrame) -> pd.DataFrame:
    """Text length, token count and domain of pages, by pandas: Spark's
    length() counts code points, as len() does; token_count splits on
    Java's \\s, the ASCII whitespace class; domain_of's regex."""
    text = pdf["text"].fillna("")
    domain = pdf["url"].str.extract(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/:?#]+)", expand=False)
    return pd.DataFrame(
        {
            "len": text.str.len().to_numpy(np.int64),
            "tok": text.str.count(r"[^ \t\n\x0b\f\r]+").to_numpy(np.int64),
            "domain": domain.str.lower(),
            "lang": pdf["lang"],
        }
    )


def pages_exact(path: str) -> dict:
    """Exact answers by pandas over the written pages."""
    pdf = pd.read_parquet(path, columns=["url", "text", "lang"])
    cols = page_columns(pdf)
    return {
        "rows": len(pdf),
        "len_sorted": np.sort(cols["len"].to_numpy()),
        "distinct_urls": int(pdf["url"].nunique()),
        "domain_counts": cols["domain"].value_counts(),
        "lang_tokens": {k: np.sort(g.to_numpy()) for k, g in cols.groupby("lang")["tok"]},
    }


def check_cms(tag: str, est_by_key: dict, counts: pd.Series, n: int) -> list[str]:
    """Count-Min bound: true <= est <= true + (e / width) * n."""
    slack = math.e / CMS_WIDTH * n
    errs = []
    for key, est in est_by_key.items():
        true = int(counts.get(key, 0))
        if not (true <= est <= true + slack):
            errs.append(f"{tag} {key}: est {est} outside [{true}, {true + slack:.1f}]")
    return errs


def check_grouped(tag, exact: dict, rows, ps, eps) -> list[str]:
    errs = [] if len(rows) == len(exact) else [f"{tag}: {len(rows)} groups != {len(exact)}"]
    for key, ests in rows:
        if key not in exact:
            errs.append(f"{tag}: unexpected group {key!r}")
            continue
        errs += check_quantiles(f"{tag} {key}", exact[key], ps, ests, eps)
    return errs


class WebpagesSuite:
    """The webpages flagship: one fused multi-sketch pass (Q-Digest of
    text length, HLL of urls, CMS of domains), per-lang token-count
    medians, and CMS heavy-hitter domains."""

    name = "webpages_suite"
    makes_pages = True

    def build(self, spark, root, seed):
        """Pages from ``generate_pdf``, their ids offset by the seed."""
        t0 = time.perf_counter()

        def gen(batches):
            for pdf in batches:
                if len(pdf):
                    yield generate_pdf(pdf["id"].to_numpy())

        first = (seed % (1 << 31)) * PAGE_ID_STRIDE
        fx = Fixture(os.path.join(root, "pages"), PAGES)
        spark.range(first, first + PAGES, 1, FILES).mapInPandas(gen, PAGES_SCHEMA).write.parquet(fx.path)
        fx.generate_s = time.perf_counter() - t0
        fx.exact = pages_exact(fx.path)
        # xxhash64 of the heaviest domains, to read the fused CMS by key
        heavy = list(fx.exact["domain_counts"].index[: 2 * TOPK])
        rows = spark.createDataFrame([(d,) for d in heavy], "d string").select("d", F.xxhash64("d")).collect()
        fx.exact["heavy_hashes"] = dict(rows)
        return fx

    def query(self, spark, fx):
        pages = spark.read.parquet(fx.path)
        fused = multi_sketch_aggregate(
            pages,
            {
                "len_q": SketchSpec(
                    F.length("text").cast("long"), partial(QDigest, K, LEN_BITS), qdigest_from_bytes
                ),
                "urls": SketchSpec(F.xxhash64("url"), partial(HashedHLL, HLL_P), hashed_hll_from_bytes),
                "domains": SketchSpec(
                    F.xxhash64(domain_of("url")),
                    partial(HashedCMS, CMS_DEPTH, CMS_WIDTH),
                    hashed_cms_from_bytes,
                ),
            },
            fanout=spark_cores(spark),
        )
        per_lang = grouped_quantiles(
            pages, ["lang"], token_count("text"), partial(QDigest, K, TOKEN_BITS),
            qdigest_from_bytes, [0.5], ["p50_tokens"],
        ).collect()
        top = cms_topk_with_keys(pages, domain_of("url"), k=TOPK).collect()
        return {
            "fused": fused,
            "per_lang": [(r["lang"], [r["p50_tokens"]]) for r in per_lang],
            "top": {r["key"]: int(r["est_cnt"]) for r in top},
        }

    def check(self, fx, out):
        ex = fx.exact
        n = ex["rows"]
        len_q, urls, domains = (out["fused"][k] for k in ("len_q", "urls", "domains"))
        errs = [] if len_q.n == n else [f"len_q n {len_q.n} != {n}"]
        errs += check_quantiles(
            "text length", ex["len_sorted"], QDIGEST_PS, len_q.quantiles(QDIGEST_PS), LEN_BITS / K
        )
        est = urls.sketch.estimate()
        tol = HLL_SIGMAS * urls.sketch.rel_error() * ex["distinct_urls"]
        if abs(est - ex["distinct_urls"]) > tol:
            errs.append(f"distinct urls {est:.0f} vs exact {ex['distinct_urls']} beyond {tol:.0f}")
        hashes = ex["heavy_hashes"]
        fused_est = domains.sketch.estimate_hashes(
            np.array(list(hashes.values()), dtype=np.int64).view(np.uint64)
        )
        errs += check_cms("fused cms", dict(zip(hashes, fused_est.tolist())), ex["domain_counts"], n)
        if len(out["top"]) != TOPK:
            errs.append(f"cms top-k returned {len(out['top'])} keys")
        errs += check_cms("top-k", out["top"], ex["domain_counts"], n)
        errs += check_grouped("lang", ex["lang_tokens"], out["per_lang"], [0.5], TOKEN_BITS / K)
        return errs

    def result_bytes(self, spark, fx, out):
        return sum(len(sk.to_bytes()) for sk in out["fused"].values())

    def probe(self, spark, fx, out):
        res = text_probe(spark, fx)
        # Codec and merge of many small partials: one text-length sketch
        # per (file, domain) over the 1,000 Zipf-skewed domains, as
        # grouped_sketch_rows would build them for per-domain quantiles,
        # merged by domain. The timed query has no per-domain part.
        parts = []
        for f in sorted(os.listdir(fx.path)):
            if f.endswith(".parquet"):
                cols = page_columns(pd.read_parquet(os.path.join(fx.path, f), columns=["url", "text", "lang"]))
                parts += [(d, g.to_numpy(), None) for d, g in cols.groupby("domain")["len"]]
        res.update(qdigest_probe(partial(QDigest, K, LEN_BITS), parts))
        res["qdigest.nodes"] = out["fused"]["len_q"].num_nodes
        return res


WORKLOADS = {w.name: w for w in (QDigestInts(), WebpagesSuite())}


# --------------------------------------------------------------- probes
class MethodTimer:
    """Counts and times calls to the given methods while active. Only
    this (the driver's) process is patched: Spark pickles the package's
    classes by reference, so workers run them unchanged."""

    def __init__(self, targets):
        self.targets = targets  # (class, method name) pairs
        self.calls = 0
        self.seconds = 0.0

    def __enter__(self):
        self.saved = [(cls, name, cls.__dict__[name]) for cls, name in self.targets]
        for cls, name, orig in self.saved:
            if isinstance(orig, classmethod):
                setattr(cls, name, classmethod(self._timed(orig.__func__)))
            else:
                setattr(cls, name, self._timed(orig))
        return self

    def _timed(self, func):
        def timed(*args):
            t = time.perf_counter()
            try:
                return func(*args)
            finally:
                self.seconds += time.perf_counter() - t
                self.calls += 1

        return timed

    def __exit__(self, *exc):
        for cls, name, orig in self.saved:
            setattr(cls, name, orig)


def qdigest_probe(factory, parts) -> dict:
    """Build one sketch per (key, values, weights) part in
    Arrow-batch-sized updates, then time serializing and deserializing
    the partials and merging them by key."""
    rows = sum(len(vals) for _, vals, _ in parts)
    t0 = time.perf_counter()
    with MethodTimer([(QDigest, "compress")]) as cc:
        sketches = []
        for key, vals, weights in parts:
            sk = factory()
            for i in range(0, len(vals), ARROW_BATCH):
                w = None if weights is None else weights[i : i + ARROW_BATCH]
                sk.update_batch(vals[i : i + ARROW_BATCH], w)
            sketches.append((key, sk))
        t1 = time.perf_counter()
        bufs = [(key, sk.to_bytes()) for key, sk in sketches]
        t2 = time.perf_counter()
        decoded = [(key, QDigest.from_bytes(b)) for key, b in bufs]
        t3 = time.perf_counter()
        merged: dict = {}
        for key, sk in decoded:
            merged[key] = merged[key].merge(sk) if key in merged else sk
        t4 = time.perf_counter()
    return {
        "qdigest.update_s_per_mrow": (t1 - t0) / (rows / 1e6),
        "qdigest.compress_calls": cc.calls,
        "qdigest.compress_s": cc.seconds,
        "qdigest.to_bytes_s": t2 - t1,
        "qdigest.from_bytes_s": t3 - t2,
        "qdigest.merge_s": t4 - t3,
    }


def text_probe(spark, fx) -> dict:
    """Text functions per thousand pages: extract_text in the driver on
    a sample of html; the JVM expressions as one Spark job each (scan of
    the column included)."""
    html = pq.read_table(fx.path, columns=["html"]).column("html").to_pandas()
    sample = html.iloc[:PROBE_DOCS]
    t0 = time.perf_counter()
    extract_text_series(sample)
    extract_s = time.perf_counter() - t0
    pages = spark.read.parquet(fx.path)
    kdocs = fx.rows / 1000

    def job_s(expr):
        t = time.perf_counter()
        pages.agg(F.sum(expr)).collect()
        return time.perf_counter() - t

    return {
        "text.extract_s_per_kdoc": extract_s / (len(sample) / 1000),
        "text.token_count_s_per_kdoc": job_s(token_count("text")) / kdocs,
        "text.domain_of_s_per_kdoc": job_s(F.length(domain_of("url"))) / kdocs,
    }
