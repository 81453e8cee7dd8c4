"""Seeded benchmark inputs, generated once per seed into the work dir.

validate:    the ``sources.pages`` fixture warehouse (15 defect categories x
             400 rows = 6,000 docs) generated with ``--seed``, plus the
             ``ref_hosts`` allow-list and the seeded baseline snapshot.  The
             rows come from the package's pure row generator
             (``sources.pages.make_page``); they are written with pyarrow in
             the same hive layout ``write_fixture_warehouse`` produces, so no
             JVM is started to build them.
documents:   (near_dup, corpus_prep) a 5,000-doc ``documents`` table of the sf0.1 shape (30-word
             vocabulary, 10-100 tokens, five languages, 20 sources) plus a
             ``url`` column with planted re-crawls, planted near-duplicates,
             planted exact duplicates and a few unusable rows.  The content is
             fixed; ``--seed`` only shuffles row order and the split of rows
             over 8 files, so every output is seed-independent.

Each input directory carries a ``truth.json`` with what was planted; the
output checks read it instead of asking the program.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

PAGES_ROWS_PER_CATEGORY = 400
N_DOCS = 2_500
DOC_FILES = 8
# fixed content seed of the documents corpus (--seed shuffles, see above)
DOCS_CONTENT_SEED = 20251101

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
NEAR_DUP_P = 0.05   # copy of an earlier doc plus one token
EXACT_DUP_P = 0.002  # byte-identical copy of an earlier doc
RECRAWL_P = 0.03    # same page as an earlier doc under a url variant
UNUSABLE_P = 0.004  # null or blank text

# url spellings that canonicalize to the base url (fragment, host/scheme
# case, default port, tracking parameters)
URL_VARIANTS = (
    "https://{host}/docs/{page}#top",
    "HTTPS://{HOST}/docs/{page}",
    "https://{host}:443/docs/{page}",
    "https://{host}/docs/{page}?utm_source=feed",
    "https://{host}/docs/{page}?gclid=x1&utm_medium=mail",
)


def _atomic_dir(final: str, build) -> None:
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


# ---------------------------------------------------------------- validate

def _pages_rows(args):
    category, seed = args
    from audio_quality_checker_spark.sources.pages import make_page

    return [make_page(category, i, seed)
            for i in range(PAGES_ROWS_PER_CATEGORY)]


def _baseline(seed):
    from audio_quality_checker_spark.sources.pages import baseline_snapshot_pdf

    return baseline_snapshot_pdf(seed=seed)


def _write_pages(root: str, seed: int) -> None:
    import pandas as pd

    from audio_quality_checker_spark.sources.pages import (
        CATEGORY_NAMES,
        ref_hosts_pdf,
    )

    # forked workers, joined when the pool is left (~5 s, against ~10 s in
    # this process); a "spawn" pool leaves its resource tracker running
    # after the run
    with mp.get_context("fork").Pool(4) as pool:
        base = pool.apply_async(_baseline, (seed,))
        chunks = pool.map(_pages_rows, [(c, seed) for c in CATEGORY_NAMES])
        baseline = base.get()
    pdf = pd.DataFrame([r for rows in chunks for r in rows])
    pdf = pdf.sort_values(["p_day", "url"], kind="mergesort")
    ts_utc = pa.timestamp("us", tz="UTC")
    pages = pa.table({
        "url": pa.array(pdf["url"], pa.string()),
        "warc_ts": pa.array(pdf["warc_ts"].dt.tz_localize("UTC"), ts_utc),
        "html": pa.array(pdf["html"], pa.binary()),
        "text": pa.array(pdf["text"], pa.string()),
        "lang": pa.array(pdf["lang"], pa.string()),
        "p_day": pa.array(pdf["p_day"], pa.string()),
    })
    ds.write_dataset(
        pages, f"{root}/pages", format="parquet",
        partitioning=ds.partitioning(pa.schema([("p_day", pa.string())]),
                                     flavor="hive"),
        basename_template="part-{i}.parquet",
    )
    hosts = ref_hosts_pdf()
    os.makedirs(f"{root}/ref_hosts")
    pq.write_table(pa.table({
        "host": pa.array(hosts["host"], pa.string()),
        "first_seen": pa.array(hosts["first_seen"].dt.tz_localize("UTC"),
                               ts_utc),
    }), f"{root}/ref_hosts/part-0.parquet")
    os.makedirs(f"{root}/baseline_snapshot")
    pq.write_table(pa.Table.from_pandas(baseline, preserve_index=False),
                   f"{root}/baseline_snapshot/part-0.parquet")
    with open(f"{root}/truth.json", "w") as f:
        json.dump({"seed": seed, "n_docs": len(pdf)}, f)


# ------------------------------------------------------------- corpus_prep

def documents_content():
    """The fixed 5,000-doc corpus and what was planted in it."""
    rng = np.random.default_rng(DOCS_CONTENT_SEED)
    texts, langs, urls, pages = [], [], [], []
    n_sites = 40
    for i in range(N_DOCS):
        r = rng.random()
        if i > 0 and r < NEAR_DUP_P:
            j = int(rng.integers(0, i))
            text, lang = (texts[j] or "spark") + " dup", langs[j]
        elif i > 0 and r < NEAR_DUP_P + EXACT_DUP_P:
            j = int(rng.integers(0, i))
            text, lang = texts[j], langs[j]
        else:
            n = int(rng.integers(10, 101))
            text = " ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n))
            lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
        if rng.random() < UNUSABLE_P:
            text = None if rng.random() < 0.5 else "   "
        if i > 0 and rng.random() < RECRAWL_P:
            page = pages[int(rng.integers(0, i))]
            variant = URL_VARIANTS[int(rng.integers(0, len(URL_VARIANTS)))]
        else:
            page, variant = i, "https://{host}/docs/{page}"
        host = f"site{page % n_sites:02d}.example.com"
        urls.append(variant.format(host=host, HOST=host.upper(), page=page))
        texts.append(text)
        langs.append(lang)
        pages.append(page)
    return {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "url": urls,
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": [None if t is None else len(t) for t in texts],
        "page": pages,
    }


def _write_documents(root: str, seed: int) -> None:
    c = documents_content()
    tbl = pa.table({
        "doc_id": pa.array(c["doc_id"], pa.int64()),
        "url": pa.array(c["url"], pa.string()),
        "text": pa.array(c["text"], pa.string()),
        "lang": pa.array(c["lang"], pa.string()),
        "source": pa.array(c["source"], pa.string()),
        "n_chars": pa.array(c["n_chars"], pa.int64()),
    })
    order = np.random.default_rng(seed).permutation(N_DOCS)
    tbl = tbl.take(pa.array(order))
    os.makedirs(f"{root}/documents")
    step = -(-N_DOCS // DOC_FILES)
    for k in range(DOC_FILES):
        pq.write_table(tbl.slice(k * step, step),
                       f"{root}/documents/part-{k:04d}.parquet")
    with open(f"{root}/truth.json", "w") as f:
        json.dump({"seed": seed, "n_docs": N_DOCS,
                   "page_of_doc": [int(p) for p in c["page"]]}, f)


WRITERS = {"validate": _write_pages, "documents": _write_documents}


def ensure_inputs(work: str, family: str, seed: int) -> str:
    """Input dir for (family, seed), generated unless already there."""
    import hashlib

    with open(__file__, "rb") as f:  # a changed generator gets a new dir
        version = hashlib.sha1(f.read()).hexdigest()[:10]
    final = os.path.join(work, "inputs", f"{family}-{seed}-{version}")
    if not os.path.exists(os.path.join(final, "truth.json")):
        _atomic_dir(final, lambda d: WRITERS[family](d, seed))
    return final
