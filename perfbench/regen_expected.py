"""Regenerate ``statements.json`` and ``expected.json``.

``statements.json`` freezes the governed_sql traffic: the 22 TPC-H
texts and the ``TRINO_SQL_*`` feature texts of
``okera_trino_spark.functions``, by id.

``expected.json`` freezes, for every timed read, its row count and
order-insensitive value hash, plus the values of small results
(``canon.reference``):

- each batch key at its workload's scale (``workloads.SCALE``), from the
  key's DuckDB oracle in the registry (``oracle_at_scale`` adapts the one
  oracle that hard-codes a size);
- each governed_sql statement under each policy state, from
  the oracle of the registry key that runs the same text.  The policy
  is mirrored in DuckDB: ``orders`` becomes a view with the state's row
  filter and ``customer`` a view with ``c_name`` replaced by its
  SHA-256 hex digest, as the engine's hash mask computes it.

Statements without an oracle (catalog-discovery statements) are absent;
the benchmark checks them against their untimed warm-up result.

``expected.json`` also freezes the digest of every fixture table the
workloads read (``datagen.table_digest``), under ``data``; the tables
are rebuilt here, not reused.

Run from the repository root: ``python3 perfbench/regen_expected.py``.
It needs only DuckDB and the registry, no Spark session.
"""

from __future__ import annotations

import inspect
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import datagen  # noqa: E402
import workloads as W  # noqa: E402
from canon import reference  # noqa: E402

DATA_ROOT = os.path.join(HERE, ".data")


def oracle_at_scale(key: str, oracle: str, sf_dir: str) -> str:
    """The registry oracle, adapted where it hard-codes a fixture-size
    constant.  ``q_llm_semdedup_kmeans`` scales its cell count with the
    corpus (``semdedup_k``) while its oracle replays Lloyd from the
    first ``KMEANS_K`` vectors; at sf0.1 the engine uses more cells, so
    the replay starts from that many."""
    if key != "q_llm_semdedup_kmeans":
        return oracle
    import pyarrow.parquet as pq

    from okera_trino_spark.llm.dedup import semdedup_k
    from okera_trino_spark.llm.similarity import KMEANS_K

    init = f"WHERE vec_id < {KMEANS_K})"
    if oracle.count(init) != 1:
        raise SystemExit(f"{key}: oracle init clause not found")
    n = pq.read_metadata(os.path.join(sf_dir, "embeddings.parquet")).num_rows
    return oracle.replace(init, f"WHERE vec_id < {semdedup_k(n)})")


def data_dir(sf: float, digests: dict[str, dict[str, str]]) -> str:
    """Rebuild the tables of ``sf`` and record their digests."""
    out = os.path.join(DATA_ROOT, f"sf{sf:g}")
    digests[f"sf{sf:g}"] = datagen.write_dir(out, sf)
    return out


def _statements() -> tuple[dict[str, str], dict[str, str]]:
    """(id -> Trino text, id -> registry key whose oracle checks it)."""
    from okera_trino_spark.functions import trino_sql, trino_tpch
    from okera_trino_spark.registry import load_all_queries

    specs = load_all_queries()
    texts: dict[str, str] = {}
    oracle_key: dict[str, str] = {}
    for n, sql in sorted(trino_tpch.TRINO_TPCH.items()):
        sid = f"tpch_q{n:02d}"
        texts[sid] = sql
        # Q1's text is the q_trino_tpch_q1 key; the rest are held to
        # their DataFrame twin's oracle, as the repository's suite does
        oracle_key[sid] = "q_trino_tpch_q1" if n == 1 else f"q_tpch_q{n}"
    for name, sql in sorted(vars(trino_sql).items()):
        if not name.startswith("TRINO_SQL_") or name == "TRINO_SQL_TPCH_Q1":
            continue
        suffix = name[len("TRINO_SQL_"):].lower()
        if f"sql_{suffix}" in W.SKIPPED_FEATURE_TEXTS:
            continue
        key = "q_trino_sql" if suffix == "composite" else f"q_trino_sql_{suffix}"
        src = inspect.getsource(specs[key].fn)
        if name not in src:
            raise SystemExit(f"{key} does not run {name}")
        texts[f"sql_{suffix}"] = sql
        oracle_key[f"sql_{suffix}"] = key
    for sid, key in oracle_key.items():
        if specs[key].oracle is None:
            raise SystemExit(f"{sid}: {key} has no oracle")
    return texts, oracle_key


def duckdb_for(sf_dir: str, state: str = "analyst"):
    """DuckDB with the fixture tables as views, governed as ``state``."""
    con = duckdb.connect()
    for t in datagen.TABLES:
        src = f"'{sf_dir}/{t}.parquet'"
        body = f"SELECT * FROM {src}"
        if t == "orders" and state.startswith("regional:"):
            body += f" WHERE {W.ROW_FILTERS[state.split(':')[1]]}"
        if (t, state) == (W.MASKED_COLUMN[0], "auditor"):
            col = W.MASKED_COLUMN[1]
            body = (f"SELECT * REPLACE (sha256(CAST({col} AS VARCHAR)) "
                    f"AS {col}) FROM {src}")
        con.execute(f"CREATE VIEW {t} AS {body}")
    return con


def main() -> None:
    from okera_trino_spark.registry import load_all_queries

    specs = load_all_queries()
    texts, oracle_key = _statements()
    with open(os.path.join(HERE, "statements.json"), "w") as fh:
        json.dump(texts, fh, indent=1, sort_keys=True)
        fh.write("\n")

    digests: dict[str, dict[str, str]] = {}
    dirs = {sf: data_dir(sf, digests) for sf in sorted(set(W.SCALE.values()))}
    expected: dict[str, dict] = {"data": digests}
    for wl, keys in W.BATCH_KEYS.items():
        sf_dir = dirs[W.SCALE[wl]]
        con = duckdb_for(sf_dir)
        expected[wl] = {
            k: reference(con.sql(oracle_at_scale(k, specs[k].oracle, sf_dir)).df())
            for k in keys}
        print(wl, len(keys), "keys", flush=True)

    sf_dir = dirs[W.SCALE["governed_sql"]]
    gov: dict[str, list] = {}
    for state in W.POLICY_STATES:
        con = duckdb_for(sf_dir, state)
        for sid, key in sorted(oracle_key.items()):
            gov[f"{sid}|{state}"] = reference(con.sql(specs[key].oracle).df())
        for view, body in sorted(W.VIEWS.items()):
            gov[f"{view}|{state}"] = reference(
                con.sql(f"SELECT * FROM ({body})").df())
        print("governed_sql", state, flush=True)
    expected["governed_sql"] = gov
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        fh.write(_one_entry_per_line(expected))


def _one_entry_per_line(expected: dict) -> str:
    """JSON with one reference per line, so a regeneration diffs by key."""
    parts = []
    for wl in sorted(expected):
        body = ",\n".join(f"  {json.dumps(k)}: {json.dumps(v)}"
                           for k, v in sorted(expected[wl].items()))
        parts.append(f" {json.dumps(wl)}: {{\n{body}\n }}")
    return "{\n" + ",\n".join(parts) + "\n}\n"


if __name__ == "__main__":
    main()
