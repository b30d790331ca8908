"""Every Trino statement takes one path (``execute_trino``): the governed
front door, the MATCH_RECOGNIZE lowering and view expansion reach the
same pipeline, UDF setup and execution tail as a plain statement."""

from __future__ import annotations

import json
import re
from pathlib import Path

from okera_trino_spark.functions import trino_sql

_MR = """SELECT user_id, mn, n, total FROM {src} MATCH_RECOGNIZE (
    PARTITION BY user_id ORDER BY ts, event_id
    MEASURES match_number() AS mn, count(*) AS n, sum(value) AS total
    PATTERN (V C+ P)
    DEFINE V AS event_type = {view},
           C AS event_type = 'click',
           P AS event_type = 'purchase'){where}"""


def _mr(src="events", view="'view'", where=""):
    return _MR.format(src=src, view=view, where=where)


def _rows(df):
    return sorted((r.user_id, r.mn, r.n, round(r.total, 6))
                  for r in df.collect())


def test_session_udf_table_covers_golden_corpus():
    """Every ``trino_*`` routine the front end emits over the golden
    corpus has a registrar, so ``ensure_dialect_udfs`` can register it
    from either spelling."""
    corpus = json.loads(
        (Path(__file__).parent / "trino_golden.json").read_text())
    emitted = {m.lower() for c in corpus
               for m in re.findall(r"\b(trino_\w+)\s*\(", c.get("out", ""))}
    udfs = {udf: call for call, (udf, _, _) in trino_sql._SESSION_UDFS.items()}
    assert len(emitted) >= 20
    assert emitted <= set(udfs)
    for udf in emitted:
        register = trino_sql._UDF_REGISTRARS[udf]
        assert trino_sql._UDF_REGISTRARS[udfs[udf]] is register
        assert trino_sql._UDF_CALL_RE.fullmatch(f"{udf.upper()} (")
        assert trino_sql._UDF_CALL_RE.fullmatch(f"{udfs[udf]}(")


def test_unicode_literals_in_match_recognize(spark, sf_dir):
    """U&'…' literals decode in a MATCH_RECOGNIZE statement as in any
    other: in a DEFINE predicate and in the outer query."""
    from okera_trino_spark.functions.trino_sql import execute_trino

    plain = _rows(execute_trino(spark, _mr(), sf_dir))
    assert plain
    assert _rows(execute_trino(spark, _mr(view=r"U&'\0076iew'"))) == plain
    assert _rows(execute_trino(
        spark, _mr(where=r" WHERE U&'\0076' = 'v'"))) == plain


def test_match_recognize_through_governed_catalog(spark, sf_dir):
    """A row filter applies to the pattern scan of a governed
    MATCH_RECOGNIZE exactly as the same filter applied by hand."""
    from okera_trino_spark.functions.trino_sql import execute_trino
    from okera_trino_spark.sources.catalog import (
        GovernedCatalog, TablePolicy, load_table)

    keep = "event_id % 3 <> 0"
    cat = GovernedCatalog(spark, sf_dir)
    cat.set_policy("analyst", "events", TablePolicy(row_filter=keep))
    governed = _rows(cat.execute(_mr(), user="analyst", dialect="trino"))
    unfiltered = _rows(cat.execute(_mr(), user="root", dialect="trino"))
    load_table(spark, sf_dir, "events").filter(keep) \
        .createOrReplaceTempView("events_by_hand")
    by_hand = _rows(execute_trino(spark, _mr(src="events_by_hand")))
    assert governed and governed == by_hand
    assert governed != unfiltered


def test_trino_view_with_session_udf_in_fresh_session(spark, sf_dir):
    """Expanding a Trino view registers the session UDFs its text calls
    in the reading session."""
    from okera_trino_spark.functions.trino_sql import execute_trino
    from okera_trino_spark.sources.catalog import GovernedCatalog

    sql = ("SELECT n_nationkey, to_hex(xxhash64(to_utf8(n_name))) AS h "
           "FROM nation")
    fresh = spark.newSession()
    cat = GovernedCatalog(fresh, sf_dir)
    cat.create_view("v_hash", sql, dialect="trino")
    got = sorted(tuple(r) for r in cat.read("v_hash").collect())
    want = sorted(tuple(r) for r in execute_trino(spark, sql, sf_dir).collect())
    assert len(got) == 25 and got == want
