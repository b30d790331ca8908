"""The fixture tables, rebuilt inside the checkout.

The engine's queries read ten parquet tables (a TPC-H-like star schema,
an ``events`` stream and two LLM-corpus tables) from one directory per
scale factor.  The repository's own bench and tests read the seed-42
fixture set described in ``TESTDATA.md`` and ``FIXTURES.md``; the
benchmark may read nothing outside its checkout, so this module
rebuilds that set value for value: the same draws from
``np.random.default_rng(42)`` in the same order, the same category
orders and the same column types (timestamps are microseconds in the
fixture files).  ``python3 perfbench/datagen.py --compare DIR`` checks
the tables of one scale factor against a fixture directory.

``table_digest`` fingerprints a table's values.  ``expected.json``
freezes the digests of every table the workloads read, and
``ensure_dir`` refuses to run on tables that differ from them (a NumPy
whose ``Generator`` streams changed, or an edited generator), so data
drift stops the run with its own error instead of showing up as failed
ops.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# category lists in the order the fixture generator indexes them
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD",
             "FURNITURE"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod",
              "ring"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_STATUS = ["O", "F", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_RETURN_FLAGS = ["R", "A", "N"]
_LINE_STATUS = ["O", "F"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_VOCAB = ("the a spark query table join group filter window data order "
          "customer part line fast slow big small hash sort merge scan agg "
          "stream batch vector key value row column").split()


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """``n`` midnight timestamps drawn uniformly from [lo, hi]."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(a, b + 1, n)
    return d.astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.integers(0, len(values), n)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Random texts of 10 to 99 vocabulary words; then ``n // 20``
    distinct documents are overwritten, in turn, by a random document
    (possibly one already overwritten) with `` dup`` appended."""
    words = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(
        rng.integers(10, 100)))]) for _ in range(n)]
    targets = rng.choice(n, n // 20, replace=False)
    sources = rng.integers(0, n, n // 20)
    for t, s in zip(targets, sources):
        texts[t] = texts[s] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Unit-norm 64-d float32 vectors, normalised in float32."""
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    offsets = pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            offsets, pa.array(x.reshape(-1), pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def build_tables(sf: float) -> dict[str, pa.Table]:
    """Every fixture table at ``sf``; the same ``sf`` gives the same rows."""
    rng = np.random.default_rng(DATA_SEED)
    n = row_counts(sf)
    i32 = np.int32
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(_REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(i32))})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)],
                           pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(i32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": _pick(rng, _SEGMENTS, c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)],
                           pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(i32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s))})
    p = n["part"]
    adj = np.asarray(_PART_ADJ, dtype=object)[rng.integers(0, 8, p)]
    noun = np.asarray(_PART_NOUN, dtype=object)[rng.integers(0, 8, p)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)],
                            pa.string()),
        "p_type": _pick(rng, _PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(i32)),
        "p_retailprice": pa.array(np.round(
            900.0 + (np.arange(p) % 1000) / 10.0, 1))})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": _pick(rng, _STATUS, o),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", o)),
        "o_orderpriority": _pick(rng, _PRIORITIES, o)})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, m).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, m).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, m).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, m).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, m)),
        "l_discount": pa.array(_money(rng, 0.0, 0.1, m)),
        "l_tax": pa.array(_money(rng, 0.0, 0.08, m)),
        "l_returnflag": _pick(rng, _RETURN_FLAGS, m),
        "l_linestatus": _pick(rng, _LINE_STATUS, m),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", m))})
    e = n["events"]
    # seconds into January 2024, to nanoseconds, floored to microseconds
    start_ns = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    secs = rng.uniform(0, 30 * 86_400, e)
    ts = np.sort(start_ns + (secs * 1e9).astype(np.int64)) // 1000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), e)
                            .astype(np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
                          pa.string())})
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def table_digest(table: pa.Table) -> str:
    """SHA-256 of a table's column names, types and values."""
    h = hashlib.sha256()
    for name, col in zip(table.column_names, table.columns):
        h.update(f"\x1e{name}:{col.type}".encode())
        col = col.combine_chunks()
        if pa.types.is_list(col.type):
            h.update(np.asarray(col.offsets).tobytes())
            col = col.flatten()
        if pa.types.is_string(col.type):
            h.update("\x1f".join(col.to_pylist()).encode())
        else:
            h.update(np.ascontiguousarray(
                col.to_numpy(zero_copy_only=False)).tobytes())
    return h.hexdigest()


class DataDrift(RuntimeError):
    """Generated tables differ from the digests frozen in expected.json."""


def write_dir(out_dir: str, sf: float) -> dict[str, str]:
    """Write every table of ``sf`` under ``out_dir`` (one file each, one
    row group) and return their digests.  Files land under a temporary
    name and are renamed, and the ``_SUCCESS`` marker, which holds the
    digests, goes last, so a reader never sees a partial directory."""
    os.makedirs(out_dir, exist_ok=True)
    digests = {}
    for name, table in build_tables(sf).items():
        digests[name] = table_digest(table)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".tmp", row_group_size=1 << 30)
        os.replace(path + ".tmp", path)
    with open(os.path.join(out_dir, "_SUCCESS"), "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
    return digests


def ensure_dir(out_dir: str, sf: float, frozen: dict[str, str]) -> str:
    """Return ``out_dir`` holding the tables whose digests are ``frozen``.

    A directory written with other digests (an older generator) is
    rebuilt; if the rebuilt tables still differ, the generator no longer
    makes the frozen data and the run stops with ``DataDrift``."""
    marker = os.path.join(out_dir, "_SUCCESS")
    try:
        with open(marker) as fh:
            if json.load(fh) == frozen:
                return out_dir
    except (OSError, ValueError):
        pass
    digests = write_dir(out_dir, sf)
    if digests != frozen:
        drifted = sorted(k for k in frozen if digests.get(k) != frozen[k])
        raise DataDrift(
            f"data drift at sf{sf:g}: generated {', '.join(drifted)} differ "
            "from the digests in expected.json (a NumPy whose random "
            "streams changed, or an edited datagen.py); rerun "
            "regen_expected.py only if the new data is intended")
    return out_dir


def compare(fixture_dir: str, sf: float) -> list[str]:
    """Tables of ``sf`` whose values differ from ``fixture_dir``'s."""
    return [name for name, table in build_tables(sf).items()
            if table_digest(pq.read_table(
                os.path.join(fixture_dir, f"{name}.parquet"),
                schema=table.schema)) != table_digest(table)]


if __name__ == "__main__":
    # python3 perfbench/datagen.py --compare DIR SF
    if len(sys.argv) != 4 or sys.argv[1] != "--compare":
        sys.exit("usage: datagen.py --compare FIXTURE_DIR SCALE_FACTOR")
    bad = compare(sys.argv[2], float(sys.argv[3]))
    print("identical" if not bad else f"differ: {', '.join(bad)}")
    sys.exit(1 if bad else 0)
