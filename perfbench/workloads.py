"""Seeded inputs, the workload jobs, their output checks and traced passes.

Every workload runs through a public entry point of the product:
``plans.submit.run`` (filter mode) or ``plans.submit.run_corpus`` (corpus
mode), with CLI-default arguments from ``plans.submit.build_args``.  The
inputs are parquet files written here from ``datagen.make_page`` — the row
function behind ``datagen.generate_pages`` — so the program only ever sees
the generated parquet, and the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from data_quality_monitoring_spark.datagen import WORDS, make_page
from data_quality_monitoring_spark.operators.extract import wrap_html

# Input sizes.  Every CLI job here costs 50 to 100 Spark jobs whatever its
# size, so inputs are kept small enough that set-up plus one CLI job fits
# the time a run may take (see perfbench/README.md).
FILTER_DOCS = 3000
CORPUS_BASE_DOCS = 2000
COPY_FRACTION = 0.4  # share of corpus rows that are near-duplicate copies
MAX_FAMILY = 32  # largest near-duplicate family (a chain of one-word edits)
INPUT_FILES = 8  # parquet files per input, so the scan splits across cores
DUMP_ROOTS = 5  # incremental pass traced on filter_crawl: families split over two dumps
DUMP_DOCS = 50  # pages in its second dump
SAMPLE_URLS = 1000  # filter check: urls compared against the oracle
MB = 1024.0 * 1024.0

# doc_id % 16 buckets of datagen that hold clean text (kept by the filter)
_CLEAN_BUCKETS = {0: "en", 1: "en", 2: "en", 3: "en", 4: "en", 5: "en", 6: "de", 7: "nl"}


def id_offset(seed: int) -> int:
    """The seed's doc-id range (``generate_pages(id_offset=...)``): one of
    10,000 disjoint ranges, all below the ids whose page timestamp would
    overflow (``datagen.make_page`` puts page i at minute i)."""
    return seed % 10_000 * 10_000


def write_pages(pdf: pd.DataFrame, path: Path) -> int:
    """Write the pages table as INPUT_FILES parquet files; return bytes."""
    pdf = pdf.assign(warc_ts=pdf["warc_ts"].dt.tz_localize("UTC"))
    path.mkdir(parents=True, exist_ok=True)
    n = 0
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), INPUT_FILES)):
        f = path / f"part-{i:05d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[part], preserve_index=False), f,
            coerce_timestamps="us",
        )
        n += f.stat().st_size
    return n


def crawl_pages(seed: int, n: int) -> pd.DataFrame:
    base = id_offset(seed)
    return pd.DataFrame([make_page(i) for i in range(base, base + n)])


def _edit_chain(rng: np.random.Generator, root: dict, doc_id: int, size: int) -> list[dict]:
    """``size`` copies of ``root``, each one word away from the previous."""
    words = root["text"].split(" ")
    vocab = WORDS[root["lang"]]
    # only bare lowercase words are swapped, so sentences keep their shape
    slots = [i for i, w in enumerate(words) if w.isalpha() and w.islower()]
    out = []
    for j in range(size):
        pos = slots[int(rng.integers(len(slots)))]
        words[pos] = str(rng.choice(vocab))
        text = " ".join(words)
        out.append({
            **root,
            "url": f"{root['url']}/v{j}",
            "text": text,
            "html": wrap_html(text, doc_id, title=f"page {doc_id}"),
        })
    return out


def family_sizes(n_copies: int) -> list[int]:
    """Zipf family sizes, MAX_FAMILY / rank, until n_copies rows are out.
    The sizes are the same for every seed, so every seed asks connected
    components for the same number of rounds."""
    sizes: list[int] = []
    rank = 1
    while sum(sizes) < n_copies:
        sizes.append(min(max(MAX_FAMILY // rank, 2), n_copies - sum(sizes)))
        rank += 1
    return sizes


def neardup_pages(seed: int) -> pd.DataFrame:
    """Crawl pages plus Zipf-sized families of near-duplicate copies; the
    seed picks the pages, the family roots and every edit."""
    base = id_offset(seed)
    pages = [make_page(i) for i in range(base, base + CORPUS_BASE_DOCS)]
    rng = np.random.default_rng(seed % 2**32)
    roots = [
        i for i, p in enumerate(pages)
        if (base + i) % 16 in _CLEAN_BUCKETS and p["text"]
    ]
    rng.shuffle(roots)
    n_copies = round(CORPUS_BASE_DOCS * COPY_FRACTION / (1 - COPY_FRACTION))
    copies: list[dict] = []
    for i, size in zip(roots, family_sizes(n_copies)):
        copies += _edit_chain(rng, pages[i], base + i, size)
    return pd.DataFrame(pages + copies)


def make_input(workload: str, seed: int, root: Path) -> dict:
    """Build the workload's input once; return its facts and the pages."""
    pdf = crawl_pages(seed, FILTER_DOCS) if workload == "filter_crawl" else neardup_pages(seed)
    path = root / "input"
    nbytes = write_pages(pdf, path)
    return {"path": str(path), "docs": len(pdf), "bytes": nbytes, "pages": pdf}


# ---------------------------------------------------------------- jobs


def run_job(spark, workload: str, inp: dict, out: Path) -> dict:
    """One CLI invocation of the workload's mode, on a fresh output dir."""
    from data_quality_monitoring_spark.plans import submit

    shutil.rmtree(out, ignore_errors=True)
    if workload == "filter_crawl":
        args = submit.build_args(["--input", inp["path"], "--output", str(out)])
        return submit.run(spark, args)
    args = submit.build_args(["--mode", "corpus", "--input", inp["path"], "--output", str(out)])
    return submit.run_corpus(spark, args)


# ---------------------------------------------------------------- checks


def _oracle(pages: pd.DataFrame) -> pd.DataFrame:
    from data_quality_monitoring_spark.oracle import label_pages
    from data_quality_monitoring_spark.plans.pipeline import default_pattern_cfg, default_rules

    return label_pages(pages, default_rules(), default_pattern_cfg())


def _sample(urls: pd.Series, n: int) -> set[str]:
    """Deterministic url sample: the n smallest by a stable hash."""
    h = pd.util.hash_pandas_object(urls, index=False)
    return set(urls[h.sort_values(kind="stable").index[:n]])


def check_filter(inp: dict, out: Path) -> list[str]:
    """Keep/drop F1 >= 0.99 and byte-identical text_scrubbed against the
    oracle on a url sample; lineage n_docs over buckets == input count."""
    errs = []
    pages = inp["pages"]
    sample = _sample(pages["url"], SAMPLE_URLS)
    got = pq.read_table(out / "data", columns=["url", "keep", "text_scrubbed"]).to_pandas()
    got = got[got["url"].isin(sample)]
    want = _oracle(pages[pages["url"].isin(sample)])
    m = want.merge(got, on="url", suffixes=("_o", "_s"))
    if len(m) != len(sample):
        errs.append(f"filter: {len(m)} of {len(sample)} sampled urls in the output")
    tp = int((m.keep_o & m.keep_s).sum())
    fp = int((~m.keep_o & m.keep_s).sum())
    fn = int((m.keep_o & ~m.keep_s).sum())
    f1 = 2 * tp / max(2 * tp + fp + fn, 1)
    if f1 < 0.99:
        errs.append(f"filter: keep F1 {f1:.4f} < 0.99")
    same = m.text_scrubbed_o.fillna("\0").eq(m.text_scrubbed_s.fillna("\0"))
    if not same.all():
        errs.append(f"filter: {int((~same).sum())} text_scrubbed mismatches")
    lineage = pq.read_table(out / "_lineage").to_pandas()
    latest = lineage.sort_values("snapshot").groupby("bucket").tail(1)
    if int(latest["n_docs"].sum()) != inp["docs"]:
        errs.append(f"filter: lineage n_docs {int(latest['n_docs'].sum())} != {inp['docs']}")
    return errs


def check_corpus(pages: pd.DataFrame, out: Path) -> list[str]:
    """Every output doc is one of ``pages`` that the oracle filter keeps,
    with its exact scrubbed text, and no two output docs share exact text."""
    errs = []
    got = pq.read_table(out / "corpus").to_pandas()
    if got.empty:
        return ["corpus: empty output"]
    dup = int(got["text_scrubbed"].duplicated().sum())
    if dup:
        errs.append(f"corpus: {dup} output docs share exact text")
    src = pages[pages["url"].isin(set(got["url"]))]
    if len(src) != len(got):
        errs.append(f"corpus: {len(got) - len(src)} output urls not in the input")
    m = _oracle(src).merge(got, on="url", suffixes=("_o", "_s"))
    if not m.keep.all():
        errs.append(f"corpus: {int((~m.keep).sum())} output docs the filter drops")
    if not m.text_scrubbed_o.eq(m.text_scrubbed_s).all():
        errs.append("corpus: text_scrubbed differs from the oracle")
    return errs


def check(workload: str, inp: dict, out: Path) -> list[str]:
    if workload == "filter_crawl":
        return check_filter(inp, out)
    return check_corpus(inp["pages"], out)


# ---------------------------------------------------------------- traced passes

SCORER_FAMILIES = {
    "rules": ["validation"],
    "patterns": ["pattern"],
    "langid": ["ml"],
    "perplexity": ["llm"],
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, inp: dict) -> None:
    """Untraced: the first Arrow job of a session pays JVM and
    Python-worker start-up, which belongs to no layer."""
    from data_quality_monitoring_spark.plans.pipeline import quality_filter

    _noop(quality_filter(spark, spark.read.parquet(inp["path"])))


def trace_pipeline(spark, rec, inp: dict) -> dict:
    """plans.pipeline planning time and the scorer families, one by one."""
    import time

    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.operators.scrub import scrub_column
    from data_quality_monitoring_spark.plans.pipeline import quality_filter

    pages = spark.read.parquet(inp["path"])
    out = {}
    for fam, methods in SCORER_FAMILIES.items():
        with rec.span(f"operators.{fam}") as s:
            _noop(quality_filter(spark, pages, methods=methods))
        out.update(_family(fam, s))
    with rec.span("operators.scrub") as s:
        _noop(pages.select(scrub_column(F.col("text"))))
    out.update(_family("scrub", s))
    # after the scorer passes, so the driver's JIT has seen these plans
    t0 = time.perf_counter()
    quality_filter(spark, pages)._jdf.queryExecution().executedPlan()
    out["pipeline.plan_s"] = time.perf_counter() - t0
    return out


def _family(fam: str, s: dict) -> dict:
    return {
        f"operators.{fam}.s": s["s"],
        f"operators.{fam}.run_ms": s["run_ms"],
        f"operators.{fam}.cpu_ms": s["cpu_ms"],
        f"operators.{fam}.py_ms": s["py_ms"],
    }


def trace_sink(spark, rec, inp: dict, out: Path) -> tuple[dict, dict]:
    """The filter job in one span, then the same transform into a noop
    sink: the difference is what sources.manifest adds.  Returns (metrics,
    the filter job's span)."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.plans.pipeline import quality_filter

    with rec.span("sink") as sink:
        run_job(spark, "filter_crawl", inp, out)
    pages = spark.read.parquet(inp["path"])
    bucketed = pages.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(64)).cast("int"))
    with rec.span("sink.noop") as noop:
        res = quality_filter(spark, bucketed)
        _noop(res.select("url", "warc_ts", "lang", "keep", "verdict", "ppl_score",
                         "text_scrubbed", "bucket"))
    return {
        "sink.s": sink["s"],
        "sink.noop_s": noop["s"],
        "sink.overhead_s": sink["s"] - noop["s"],
        "sink.jobs": sink["jobs"],
        "sink.scan_amp": sink["input_mb"] * MB / inp["bytes"],
        "sink.out_mb": sink["output_mb"],
    }, sink


def trace_dedup(spark, rec, inp: dict) -> dict:
    """build_corpus's dedup chain, one span per operators.dedup call; each
    span materializes its output so the work lands inside it."""
    from pyspark.sql import functions as F

    from data_quality_monitoring_spark.operators import dedup as D
    from data_quality_monitoring_spark.plans.pipeline import quality_filter

    pages = spark.read.parquet(inp["path"])
    sp: dict[str, dict] = {}
    with rec.span("dedup.filter") as sp["filter"]:
        kept = (
            quality_filter(spark, pages).filter(F.col("keep"))
            .select("url", "lang", "text_scrubbed").persist()
        )
        kept.count()
    with rec.span("dedup.exact") as sp["exact"]:
        deduped = D.exact_dedup(kept, "url", "text_scrubbed").persist()
        deduped.count()
    kept.unpersist()
    with rec.span("dedup.minhash") as sp["minhash"]:
        sig = D.minhash_signatures(deduped, "url", "text_scrubbed").persist()
        sig.count()
    with rec.span("dedup.lsh") as sp["lsh"]:
        cand = D.lsh_candidate_pairs(sig, "url").persist()
        n_cand = cand.count()
    with rec.span("dedup.verify") as sp["verify"]:
        pairs = D.jaccard_verify(deduped, cand, "url", "text_scrubbed", 0.7).persist()
        n_pairs = pairs.count()
    with rec.span("dedup.cc") as sp["cc"]:
        D.connected_components(pairs, "a", "b").count()
    for df in (pairs, cand, sig, deduped):
        df.unpersist()
    out = {
        f"dedup.{name}.{k}": sp[name][k]
        for name in ("exact", "minhash", "lsh", "verify", "cc")
        for k in ("s", "jobs", "stages", "shuffle_mb")
    }
    out["dedup.filter.s"] = sp["filter"]["s"]
    out["dedup.lsh.candidates"] = n_cand
    out["dedup.verify_yield"] = n_pairs / max(n_cand, 1)
    return out


def trace_incremental(spark, rec, seed: int, root: Path, cores: int) -> tuple[list[str], dict]:
    """Two dumps through incremental mode against one signature store: the
    second joins the store the first created.  The dumps are cut from the
    corpus_neardup input of the same seed: dump 0 holds the roots of
    DUMP_ROOTS near-duplicate families, dump 1 a copy of each root, which
    the store must catch, plus fresh pages up to DUMP_DOCS.  Each dump
    costs about a hundred Spark jobs whatever its size, so the dumps are
    small.  Returns (output check errors, metrics)."""
    from data_quality_monitoring_spark.plans import submit

    pages = neardup_pages(seed)
    root_url = pages["url"].str.replace(r"/v[0-9]+$", "", regex=True)
    roots = root_url[pages["url"] != root_url].unique()[:DUMP_ROOTS]
    fresh = pages[(pages["url"] == root_url) & ~root_url.isin(roots)]
    copies = pages["url"].isin({f"{u}/v0" for u in roots})
    dumps = (
        pages[pages["url"].isin(set(roots))],
        pd.concat([pages[copies], fresh.head(DUMP_DOCS - len(roots))]),
    )
    store, outp = root / "sigstore", root / "incremental"
    for d in (store, outp):
        shutil.rmtree(d, ignore_errors=True)
    spans = []
    for i, part in enumerate(dumps):
        path = root / f"dump{i}"
        write_pages(part.reset_index(drop=True), path)
        args = submit.build_args([
            "--mode", "incremental", "--input", str(path), "--output", str(outp),
            "--sig-store", str(store),
        ])
        since = rec.reader.last_execution()
        with rec.span(f"incremental.dump{i}") as s:
            submit.run_incremental(spark, args)
        s["store_read_mb"] = rec.reader.scan_mb(str(store), since)
        spans.append(s)
    errs = check_corpus(pages, outp)
    shipped = pq.read_table(outp / "corpus", columns=["url"]).column("url").to_pylist()
    leaked = set(pages.loc[copies, "url"]) & set(shipped)
    if leaked:
        errs.append(f"incremental: {len(leaked)} copies of stored docs accepted")
    last = spans[-1]
    return errs, {
        "incremental.dump_s": last["s"],
        "incremental.jobs_per_dump": last["jobs"],
        "incremental.store_read_mb": last["store_read_mb"],
        "incremental.exec_busy_frac": last["run_ms"] / (last["s"] * 1000.0 * cores),
    }
