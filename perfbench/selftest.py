"""Show that the output checks reject corrupted outputs.

    python3 perfbench/run.py --workload near_dup --seed 1 --seconds 1 \
        --trace 0 --keep .bench_work/keep/near_dup
    python3 perfbench/selftest.py .bench_work/keep/near_dup

Takes the outputs a run kept, checks the untouched copy (it must pass),
then applies each corruption of the workload to a fresh copy and checks
that at least one check fails.  Needs no Spark.  Exits 1 if the clean copy
fails or any corruption goes unnoticed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import workloads  # noqa: E402


def _read(out: str, name: str) -> pa.Table:
    return ds.dataset(f"{out}/{name}", format="parquet").to_table()


def _write(out: str, name: str, tbl: pa.Table) -> None:
    shutil.rmtree(f"{out}/{name}")
    os.makedirs(f"{out}/{name}")
    pq.write_table(tbl, f"{out}/{name}/part-0.parquet")


def _edit(name: str, fn):
    """A corruption that rewrites one output table through fn(table)."""
    def apply(out, meta):
        _write(out, name, fn(_read(out, name)))
        return meta
    return apply


def _set(tbl: pa.Table, col: str, row: int, value) -> pa.Table:
    vals = tbl.column(col).to_pylist()
    vals[row] = value
    i = tbl.schema.get_field_index(col)
    return tbl.set_column(i, tbl.schema.field(i),
                          pa.array(vals, tbl.schema.field(i).type))


def _sorted(tbl: pa.Table, key: str) -> pa.Table:
    return tbl.sort_by([(key, "ascending")])


# ---------------------------------------------------------------- validate

def _flip_verdict(day: str):
    def fn(t):
        t = _sorted(t, "partition_key")
        row = t.column("partition_key").to_pylist().index(day)
        return _set(t, "passed", row, not t.column("passed")[row].as_py())
    return fn


def _drop_type(day: str):
    def fn(t):
        t = _sorted(t, "partition_key")
        row = t.column("partition_key").to_pylist().index(day)
        return _set(t, "violation_types", row,
                    t.column("violation_types")[row].as_py()[1:])
    return fn


VALIDATE = {
    "flip a FAIL verdict (NullStorm) to PASS":
        _edit("verdicts", _flip_verdict("2025-11-02")),
    "flip a PASS verdict (Control_Clean) to FAIL":
        _edit("verdicts", _flip_verdict("2025-11-01")),
    "drop a reported violation type (DupUrl)":
        _edit("verdicts", _drop_type("2025-11-05")),
    "drop a partition's verdict row":
        _edit("verdicts", lambda t: _sorted(t, "partition_key").slice(1)),
    "miscount one partition's rows in stats":
        _edit("stats", lambda t: _set(t, "n_rows", 0,
                                      t.column("n_rows")[0].as_py() + 1)),
    "miscount one partition's text nulls":
        _edit("stats", lambda t: _set(t, "text_nulls", 0,
                                      t.column("text_nulls")[0].as_py() + 1)),
    "miscount one verdict's rows":
        _edit("verdicts", lambda t: _set(t, "n_rows", 0,
                                         t.column("n_rows")[0].as_py() - 1)),
}


# ---------------------------------------------------------------- near_dup

def _exact_route_member(out, meta):
    """Row index of one member that has a true near-dup in an under-cap
    bucket (the exact route must find it)."""
    import duckdb

    ids, langs, blk, masks = checks._doc_tokens(
        duckdb.connect(), f"{meta['inputs']}/documents")
    pop: dict = {}
    for lg, b in zip(langs, blk):
        for key in ((lg, b), (lg, b + 1)):
            pop[key] = pop.get(key, 0) + 1
    members = _read(out, "members").column("doc_id").to_pylist()
    where = {int(d): k for k, d in enumerate(ids)}
    for row, d in enumerate(members):
        k = where[d]
        near = (langs == langs[k]) & (np.abs(blk - blk[k]) <= 1)
        near[k] = False
        for c in np.flatnonzero(near):
            inter = bin(int(masks[k]) & int(masks[c])).count("1")
            union = bin(int(masks[k]) | int(masks[c])).count("1")
            if (inter >= workloads.PAIR_THRESHOLD * union
                    and pop[(langs[k], max(blk[k], blk[c]))]
                    <= workloads.BLOCK_CAP):
                return row
    raise RuntimeError("no exact-route member in this output")


def _drop_exact_member(out, meta):
    t = _read(out, "members")
    k = _exact_route_member(out, meta)
    _write(out, "members", pa.concat_tables([t.slice(0, k), t.slice(k + 1)]))
    return meta


def _non_member(out, meta):
    """Add a doc id the corpus does not have (no true near-dup)."""
    t = _read(out, "members")
    extra = pa.table({"doc_id": [10**9]}, schema=t.schema)
    _write(out, "members", pa.concat_tables([t, extra]))
    return meta


NEAR_DUP = {
    "drop one exact-route member": _drop_exact_member,
    "add a doc that has no near-duplicate": _non_member,
    "repeat one member": _edit(
        "members", lambda t: pa.concat_tables([t, t.slice(0, 1)])),
    "drop a fifth of the members": _edit(
        "members", lambda t: t.slice(0, int(t.num_rows * 0.8))),
}


# ------------------------------------------------------------- corpus_prep

def _counter(name: str, delta: int):
    def apply(out, meta):
        c = checks.corpus_counters(meta["stdout"])
        c[name] += delta
        return dict(meta, stdout=json.dumps(c))
    return apply


def _dup_doc_new_id(t):
    """Repeat one output doc under an unused id (its text repeats)."""
    row = t.slice(0, 1)
    i = row.schema.get_field_index("doc_id")
    row = row.set_column(i, row.schema.field(i),
                         pa.array([max(t.column("doc_id").to_pylist()) + 1],
                                  pa.int64()))
    return pa.concat_tables([t, row])


CORPUS_PREP = {
    "repeat one output doc": _edit(
        "corpus", lambda t: pa.concat_tables([t, t.slice(0, 1)])),
    "repeat one output doc's text under a new id": _edit(
        "corpus", _dup_doc_new_id),
    "drop one output doc": _edit("corpus", lambda t: t.slice(1)),
    "miscount n_input": _counter("n_input", 1),
    "miscount n_after_exact_dedup": _counter("n_after_exact_dedup", 1),
    "miscount n_after_url_dedup": _counter("n_after_url_dedup", -1),
    "claim near-dedup merged more than the true graph allows":
        _counter("n_after_near_dedup", -10_000),
    "write a row below the quality threshold": _edit(
        "corpus", lambda t: _set(t, "quality", 0, 0.1)),
    "miscount one language's budget tokens": _edit(
        "budget", lambda t: _set(t, "total_bpe_tokens", 0,
                                 t.column("total_bpe_tokens")[0].as_py() + 1)),
}

CORRUPTIONS = {"validate": VALIDATE, "near_dup": NEAR_DUP,
               "corpus_prep": CORPUS_PREP}


def main(argv=None) -> int:
    argv = argv if argv is not None else sys.argv[1:]
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    kept = argv[0]
    with open(f"{kept}/meta.json") as f:
        meta = json.load(f)
    wl = workloads.WORKLOADS[meta["workload"]]

    def failures(out, m):
        return [name for name, ok, _ in
                wl.check(m["inputs"], out, m["seed"], m["stdout"]) if not ok]

    ok = True
    with tempfile.TemporaryDirectory(dir=os.path.dirname(
            os.path.abspath(kept))) as tmp:
        clean = failures(f"{kept}/out", meta)
        print(f"{'clean copy':55s} -> "
              f"{'passes' if not clean else 'FAILS ' + ', '.join(clean)}")
        ok &= not clean
        for label, corrupt in CORRUPTIONS[meta["workload"]].items():
            out = os.path.join(tmp, "out")
            shutil.rmtree(out, ignore_errors=True)
            shutil.copytree(f"{kept}/out", out)
            caught = failures(out, corrupt(out, meta))
            print(f"{label:55s} -> "
                  f"{'rejected by ' + ', '.join(caught) if caught else 'NOT CAUGHT'}")
            ok &= bool(caught)
    return 0 if ok else 1


if __name__ == "__main__":
    np.seterr(all="ignore")
    sys.exit(main())
