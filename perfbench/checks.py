"""Output checks computed apart from the program.

Every check reads the written outputs with pyarrow/DuckDB and compares
them with a computation over the generated inputs (and their planted
truth) that shares no code with the package.  Each check returns
``(name, ok, detail)``; the caller counts each one as an operation.
"""

from __future__ import annotations

import json

import duckdb
import numpy as np
import pyarrow.dataset as ds

# FIXTURES.md section 2: (partition day, should_pass, expected violation
# types), one synthetic crawl day per category starting 2025-11-01
DECLARED = [
    ("Control_Clean", True, ()),
    ("NullStorm", False, ("NullRateExceeded",)),
    ("TruncatedText", False, ("LengthDistributionAnomaly",)),
    ("PaddedText", False, ("LengthDistributionAnomaly",)),
    ("DupUrl", False, ("UniquenessViolation",)),
    ("UnknownHost", False, ("ReferentialViolation",)),
    ("LangDrift", False, ("DistributionDrift",)),
    ("LengthDrift", False, ("DistributionDrift",)),
    ("TextMismatch", False, ("ExtractionMismatch",)),
    ("MalformedHtml", False, ("ExtractionError",)),
    ("Combined_Dup_Drift", False, ("UniquenessViolation", "DistributionDrift")),
    ("SkewHost", True, ()),
    ("SchemaDrift", False, ("SchemaViolation",)),
    ("WeakDup_Drift", False, ("UniquenessViolation", "DistributionDrift")),
    ("WeakDup", True, ()),
]
# The declared verdicts are calibrated for seed 42.  A lone violation
# fails a day only when its rate is at least twice the gate (below that it
# is a weak signal the corroboration gate suppresses).  Four categories
# inject a rate near those cut points, so at other seeds their verdict
# flips with the draw: the two WeakDup days (~3% url dups against the 2%
# gate, by design), MalformedHtml (5% bad html against the 4% strong tier
# of the 2% gate; seed 101 draws 11 of 400 rows and the day passes) and
# TextMismatch (15% stale text, judged on a 10% sample of ~40 rows; seed
# 509's sample clears the gate).  The other eleven categories held their
# declared verdict at every seed tried (40 seeds).
CALIBRATED_SEED = 42
THRESHOLD_CATEGORIES = {"WeakDup", "WeakDup_Drift", "MalformedHtml",
                        "TextMismatch"}


def _day(i: int) -> str:
    return f"2025-11-{i + 1:02d}"


def _table(path: str):
    return ds.dataset(path, format="parquet").to_table()


# ---------------------------------------------------------------- validate

def check_validate(inputs: str, out: str, seed: int) -> list[tuple]:
    con = duckdb.connect()
    pages = f"{inputs}/pages/*/*.parquet"
    truth = {
        r[0]: r[1:] for r in con.execute(f"""
            SELECT CAST(p_day AS VARCHAR), count(*),
                   count(*) FILTER (WHERE url IS NULL),
                   count(*) FILTER (WHERE html IS NULL),
                   count(*) FILTER (WHERE text IS NULL),
                   count(*) FILTER (WHERE lang IS NULL),
                   count(*) FILTER (WHERE warc_ts IS NULL)
            FROM read_parquet('{pages}', hive_partitioning = true)
            GROUP BY p_day""").fetchall()
    }
    verdicts = {r["partition_key"]: r for r in _table(f"{out}/verdicts").to_pylist()}
    stats = {str(r["p_day"]): r for r in _table(f"{out}/stats").to_pylist()}
    res = []

    res.append(("validate.partitions", set(verdicts) == set(truth)
                and set(stats) == set(truth),
                f"verdicts {sorted(verdicts)} stats {sorted(stats)}"))

    bad = []
    for i, (cat, should_pass, types) in enumerate(DECLARED):
        if seed != CALIBRATED_SEED and cat in THRESHOLD_CATEGORIES:
            continue
        v = verdicts.get(_day(i))
        if v is None:
            bad.append(f"{cat}: no verdict")
            continue
        if bool(v["passed"]) != should_pass:
            bad.append(f"{cat}: passed={v['passed']}")
        missing = set(types) - set(v["violation_types"])
        if missing:
            bad.append(f"{cat}: missing {sorted(missing)}")
    res.append(("validate.declared_verdicts", not bad, "; ".join(bad)))

    cols = ("n_rows", "url_nulls", "html_nulls", "text_nulls", "lang_nulls",
            "warc_ts_nulls")
    bad = [f"{d}.{c}: {s.get(c)} != {want}"
           for d, s in stats.items() if d in truth
           for c, want in zip(cols, truth[d]) if s.get(c) != want]
    res.append(("validate.stats_counts", not bad, "; ".join(bad[:5])))

    bad = [f"{d}: {v['n_rows']} != {truth[d][0]}"
           for d, v in verdicts.items() if d in truth
           and v["n_rows"] != truth[d][0]]
    res.append(("validate.verdict_rows", not bad, "; ".join(bad[:5])))
    return res


# ------------------------------------------------------------- corpus_prep

_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], np.uint8)


def _popcount(x: np.ndarray) -> np.ndarray:
    out = np.zeros(x.shape, np.int64)
    for shift in (0, 16, 32, 48):
        out += _POP16[(x >> np.uint64(shift)) & np.uint64(0xFFFF)]
    return out


def _token_masks(texts: list[str]) -> np.ndarray:
    vocab: dict[str, int] = {}
    sets = [set(t.split()) for t in texts]
    for s in sets:
        for w in s:
            vocab.setdefault(w, len(vocab))
    if len(vocab) > 64:
        raise ValueError(f"{len(vocab)} distinct tokens; masks hold 64")
    masks = np.zeros(len(texts), np.uint64)
    for i, s in enumerate(sets):
        m = 0
        for w in s:
            m |= 1 << vocab[w]
        masks[i] = m
    return masks


def _jaccard_rows(masks: np.ndarray, i: int) -> np.ndarray:
    inter = _popcount(masks[i] & masks)
    union = _popcount(masks[i] | masks)
    return np.where(union > 0, inter / np.maximum(union, 1), 0.0)


def _n_components(n: int, a: np.ndarray, b: np.ndarray) -> int:
    label = np.arange(n)
    while True:
        m = np.minimum(label[a], label[b])
        before = label.copy()
        np.minimum.at(label, a, m)
        np.minimum.at(label, b, m)
        label = label[label]
        if np.array_equal(label, before):
            return len(np.unique(label))


def _doc_tokens(con, documents: str):
    """(doc_id, lang, length bucket, token mask) of every doc the pair
    surface can compare: a text with at least one token and a lang.
    Tokens are split in DuckDB (whitespace runs, distinct), the masks and
    jaccards are computed here in numpy."""
    rows = con.execute(f"""
        SELECT doc_id, lang, CAST(floor(length(text) / 100) AS BIGINT),
               list_distinct(list_filter(
                   regexp_split_to_array(trim(text), '\\s+'), t -> t != ''))
        FROM read_parquet('{documents}/*.parquet')
        WHERE text IS NOT NULL AND lang IS NOT NULL
        ORDER BY doc_id""").fetchall()
    rows = [r for r in rows if r[3]]
    ids = np.array([r[0] for r in rows], np.int64)
    langs = np.array([r[1] for r in rows])
    blk = np.array([r[2] for r in rows], np.int64)
    masks = _token_masks([" ".join(r[3]) for r in rows])
    return ids, langs, blk, masks


def check_near_dup(inputs: str, out: str, threshold: float,
                   block_cap: int, recall_floor: float) -> list[tuple]:
    """The scripts/check_oracles.py near_dup_members bounds.  The pair
    universe is: same lang, length buckets floor(len/100) at most one
    apart.  A pair is compared in bucket max(blk_a, blk_b), whose probed
    population is the docs whose home bucket is it or the one below; the
    exact route covers the buckets whose population is within the cap."""
    con = duckdb.connect()
    ids, langs, blk, masks = _doc_tokens(con, f"{inputs}/documents")
    lc = np.unique(langs, return_inverse=True)[1]
    pop = np.zeros((lc.max() + 1, blk.max() + 2), np.int64)
    np.add.at(pop, (lc, blk), 1)
    np.add.at(pop, (lc, blk + 1), 1)
    true_members = np.zeros(len(ids), bool)
    exact_members = np.zeros(len(ids), bool)
    for k in range(len(ids)):
        cand = np.flatnonzero((lc == lc[k]) & (np.abs(blk - blk[k]) <= 1))
        cand = cand[cand > k]
        jj = _popcount(masks[k] & masks[cand]) / _popcount(masks[k] | masks[cand])
        hit = cand[jj >= threshold]
        true_members[hit] = True
        true_members[k] |= len(hit) > 0
        small = hit[pop[lc[k], np.maximum(blk[k], blk[hit])] <= block_cap]
        exact_members[small] = True
        exact_members[k] |= len(small) > 0

    got = _table(f"{out}/members").column("doc_id").to_numpy()
    pos = np.clip(np.searchsorted(ids, got), 0, len(ids) - 1)
    known = ids[pos] == got
    is_member = np.zeros(len(ids), bool)
    is_member[pos[known]] = True
    res = []
    spurious = int((~known).sum() + (known & ~true_members[pos]).sum())
    repeated = len(got) - len(np.unique(got))
    res.append(("near_dup.members_precision", spurious == 0 and repeated == 0,
                f"{spurious} members without a true near-dup, "
                f"{repeated} repeated"))
    missing = int((exact_members & ~is_member).sum())
    res.append(("near_dup.exact_route_members", missing == 0,
                f"{missing} of {int(exact_members.sum())} exact-route "
                "members missing"))
    found = int((true_members & is_member).sum())
    res.append(("near_dup.members_recall",
                found >= recall_floor * true_members.sum(),
                f"recall {found}/{int(true_members.sum())} < {recall_floor}"))
    return res


def check_corpus_prep(inputs: str, out: str, counters: dict,
                      threshold: float, min_quality: float,
                      max_dup_line_frac: float,
                      token_budget: int) -> list[tuple]:
    con = duckdb.connect()
    with open(f"{inputs}/truth.json") as f:
        page_of_doc = json.load(f)["page_of_doc"]
    docs = con.execute(f"""
        SELECT doc_id, lang, text,
               text IS NOT NULL AND length(trim(text)) > 0 AS usable,
               md5(text) AS h
        FROM read_parquet('{inputs}/documents/*.parquet')
        ORDER BY doc_id""").fetchall()
    res = []

    res.append(("corpus_prep.n_input", counters["n_input"] == len(docs),
                f"{counters['n_input']} != {len(docs)}"))

    # url collapse: one doc (the smallest id) per planted page
    first = {}
    for d, p in enumerate(page_of_doc):
        first.setdefault(p, d)
    url_keep = set(first.values())
    res.append(("corpus_prep.n_after_url_dedup",
                counters["n_after_url_dedup"] == len(url_keep),
                f"{counters['n_after_url_dedup']} != {len(url_keep)}"))

    # exact dedup: smallest id per md5(text) among usable url survivors
    keep_by_hash: dict[str, int] = {}
    for doc_id, _, _, usable, h in docs:
        if usable and doc_id in url_keep:
            keep_by_hash.setdefault(h, doc_id)
    exact = sorted(keep_by_hash.values())
    res.append(("corpus_prep.n_after_exact_dedup",
                counters["n_after_exact_dedup"] == len(exact),
                f"{counters['n_after_exact_dedup']} != {len(exact)}"))

    corpus = _table(f"{out}/corpus").to_pydict()
    ids = corpus["doc_id"]
    exact_set = set(exact)
    stray = [i for i in ids if i not in exact_set]
    res.append(("corpus_prep.output_rows",
                len(ids) == counters["n_after_budget"] and not stray
                and len(set(ids)) == len(ids),
                f"rows {len(ids)} vs n_after_budget "
                f"{counters['n_after_budget']}, {len(stray)} not exact "
                f"survivors, {len(ids) - len(set(ids))} repeated ids"))
    res.append(("corpus_prep.unique_text",
                len(set(corpus["text"])) == len(corpus["text"]),
                f"{len(corpus['text']) - len(set(corpus['text']))} "
                "output docs share a text"))

    # near-dup keep-one over the exact survivors.  Every edge the program
    # may use is a true pair (same lang, adjacent length buckets, token-set
    # jaccard >= threshold), so it can never keep fewer docs than the true
    # graph has components, and every doc it drops has a true partner.
    lang = {r[0]: r[1] for r in docs}
    text = {r[0]: r[2] for r in docs}
    ex = np.array(exact, np.int64)
    masks = _token_masks([text[i] for i in exact])
    langs = np.array([lang[i] or "" for i in exact])
    blk = np.array([len(text[i]) // 100 for i in exact])
    ea, eb, has_partner = [], [], np.zeros(len(ex), bool)
    for k in range(len(ex)):
        j = _jaccard_rows(masks, k) >= threshold
        j[k] = False
        j &= langs == langs[k]
        has_partner[k] = j.any()
        near = j & (np.abs(blk - blk[k]) <= 1)
        near[: k + 1] = False
        nb = np.flatnonzero(near)
        ea.append(np.full(len(nb), k))
        eb.append(nb)
    n_comp = _n_components(len(ex), np.concatenate(ea), np.concatenate(eb))
    res.append(("corpus_prep.near_dedup_precision",
                counters["n_after_near_dedup"] >= n_comp,
                f"{counters['n_after_near_dedup']} kept < {n_comp} true "
                "components"))
    out_set = set(ids)
    lonely_missing = sum(1 for k, i in enumerate(ex)
                         if i not in out_set and not has_partner[k])
    later_drops = counters["n_after_near_dedup"] - counters["n_after_budget"]
    res.append(("corpus_prep.dropped_have_partner",
                lonely_missing <= later_drops,
                f"{lonely_missing} dropped docs without a jaccard >= "
                f"{threshold} partner, but only {later_drops} drops after "
                "near-dedup"))

    q, dl = corpus["quality"], corpus["dup_line_frac"]
    bad = sum(1 for a, b in zip(q, dl)
              if a is None or a < min_quality
              or (b is not None and b > max_dup_line_frac))
    res.append(("corpus_prep.filters", bad == 0,
                f"{bad} rows break quality >= {min_quality} or "
                f"dup_line_frac <= {max_dup_line_frac}"))

    budget = {r["lang"]: r for r in _table(f"{out}/budget").to_pylist()}
    per_lang: dict = {}
    for lg, t in zip(corpus["lang"], corpus["bpe_tokens"]):
        s = per_lang.setdefault(lg, [0, 0, 0])
        s[0] += t
        s[1] += 1
        s[2] = max(s[2], t)
    bad = [f"{lg}: {budget.get(lg)} vs sum {s[0]} n {s[1]}"
           for lg, s in per_lang.items()
           if lg not in budget or budget[lg]["total_bpe_tokens"] != s[0]
           or budget[lg]["n_docs"] != s[1]
           or s[0] - s[2] >= token_budget]
    bad += [f"{lg}: not in corpus" for lg in budget if lg not in per_lang]
    res.append(("corpus_prep.budget", not bad, "; ".join(bad)))
    return res


def corpus_counters(stdout: str) -> dict:
    """The job's one JSON report line."""
    for line in reversed(stdout.splitlines()):
        if line.startswith("{") and "n_input" in line:
            return json.loads(line)
    raise ValueError("corpus_prep printed no counters line")
