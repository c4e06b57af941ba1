"""Correctness gates. Each compares labels and triples (never decision
values) with an oracle that does not run the program's extraction code:

* synthetic pages: the closed-form SQL oracles ``kg_temporal_triples`` and
  ``kg_causal_triples`` from ``__spark_entry__.oracle_sql()``, run in DuckDB
  over the seed's doc-id range;
* news pages: the reference's golden files, i.e. the ``kept`` rows of
  ``tests/golden/timegraph_verdicts.tsv`` and the wsj_1014 causal
  predictions;
* canonical components: the ``kg_canonical_components`` SQL oracle.

A gate returns a list of mismatch descriptions; empty means correct."""

from __future__ import annotations

import os

import duckdb

VERDICTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "tests", "golden", "timegraph_verdicts.tsv")


def _oracles() -> dict:
    import __spark_entry__
    return __spark_entry__.oracle_sql()


def _con(doc_range) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if doc_range is not None:
        lo, hi = doc_range
        con.execute(f"CREATE TABLE documents AS "
                    f"SELECT range AS doc_id FROM range({int(lo)}, {int(hi)})")
    return con


def _diff(con, name: str, expected: str, actual: str) -> list:
    missing = con.execute(
        f"SELECT count(*) FROM (({expected}) EXCEPT ALL ({actual}))"
    ).fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM (({actual}) EXCEPT ALL ({expected}))"
    ).fetchone()[0]
    if missing or extra:
        return [f"{name}: {missing} expected rows missing, "
                f"{extra} unexpected rows"]
    return []


def _synth_expected() -> str:
    o = _oracles()
    return (f"SELECT doc_id, subj, pred, obj FROM ({o['kg_temporal_triples']})"
            f" UNION ALL "
            f"SELECT doc_id, subj, pred, obj FROM ({o['kg_causal_triples']})")


def _synth_actual(glob: str) -> str:
    # synthetic urls end in the 8-digit doc id (datagen.synth_url)
    return (f"SELECT CAST(right(url, 8) AS BIGINT) AS doc_id, subj, pred, obj"
            f" FROM read_parquet('{glob}')")


def check_synth_triples(doc_range, triples_glob: str) -> list:
    con = _con(doc_range)
    return _diff(con, "triples vs kg_temporal+kg_causal oracles",
                 _synth_expected(), _synth_actual(triples_glob))


def check_kg(doc_range, labels_glob: str, sink_glob: str,
             manifest_rows: int) -> list:
    con = _con(doc_range)
    errs = _diff(con, "components vs kg_canonical_components oracle",
                 f"SELECT vertex, component FROM "
                 f"({_oracles()['kg_canonical_components']})",
                 f"SELECT vertex, component FROM read_parquet('{labels_glob}')")
    errs += _diff(con, "sink triples vs kg_temporal+kg_causal oracles",
                  _synth_expected(), _synth_actual(sink_glob))
    want = con.execute(
        f"SELECT count(*) FROM ({_synth_expected()})").fetchone()[0]
    if manifest_rows != want:
        errs.append(f"manifest rows {manifest_rows} != oracle rows {want}")
    return errs


def news_expected_rows() -> list:
    """(fixture, kind, subj, pred, obj) the reference produces per page."""
    from eventrelationextractor_spark.fixtures import golden_predictions
    rows = []
    with open(VERDICTS, encoding="utf-8") as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            fixture, src, tgt, rel, verdict = line.rstrip("\n").split("\t")
            if verdict == "kept":
                rows.append((fixture, "temporal", src, rel, tgt))
    rows += [("wsj_1014", "causal", s, p, o)
             for _, s, p, o in golden_predictions("wsj_1014", "causal")]
    # bbc_20130322_721 has no causal golden: its expected causal set is empty
    return rows


def check_news(page_fixture: dict, expected_rows: list,
               triples_glob: str) -> list:
    import pandas as pd
    con = _con(None)
    con.register("pages", pd.DataFrame(
        {"url": list(page_fixture), "fixture": list(page_fixture.values())}))
    con.register("golden", pd.DataFrame(
        expected_rows, columns=["fixture", "kind", "subj", "pred", "obj"]))
    expected = ("SELECT p.url, g.kind, g.subj, g.pred, g.obj FROM pages p "
                "JOIN golden g ON p.fixture = g.fixture")
    actual = ("SELECT url, CASE WHEN pair_type = 'causal' THEN 'causal' "
              "ELSE 'temporal' END AS kind, subj, pred, obj "
              f"FROM read_parquet('{triples_glob}')")
    return _diff(con, "filtered triples vs golden files", expected, actual)


def count_error_pages(triples_glob: str) -> int:
    """Pages that got a PARSE_ERROR meta row."""
    return duckdb.connect().execute(
        f"SELECT count(DISTINCT url) FROM read_parquet('{triples_glob}') "
        f"WHERE pred = 'PARSE_ERROR'").fetchone()[0]


def rows_equal(rows: list, triples_glob: str) -> list:
    """Multiset equality of (url, subj, pred, obj, stage, pair_type)."""
    import pandas as pd
    con = _con(None)
    cols = ["url", "subj", "pred", "obj", "stage", "pair_type"]
    con.register("control", pd.DataFrame(rows, columns=cols))
    return _diff(con, "no-Spark control vs Spark triples",
                 f"SELECT {', '.join(cols)} FROM control",
                 f"SELECT {', '.join(cols)} FROM read_parquet('{triples_glob}')")
