"""Data-driven registry emission order (queries._rotated): the driver
certifies only the first 50 emitted queries per round, so the order
must put the stalest official records first and stay deterministic."""

from __future__ import annotations

import json

from urban_pointcloud_processing_spark import queries as Q


def test_certified_rounds_reads_committed_artifacts():
    import os

    cert = Q._certified_rounds()
    # r03 is committed and fully green for its 50 rows; derive the repo
    # root the same way _certified_rounds does (portable checkouts)
    root = os.path.dirname(os.path.dirname(os.path.abspath(Q.__file__)))
    r03 = json.load(open(os.path.join(root, "CORRECTNESS_r03.json")))
    for name in r03:
        assert cert.get(name, -1) >= 3, name


def test_rotation_orders_never_certified_first_and_aligns():
    qs, oracles = Q.queries(), Q.oracle_sql()
    names = list(qs)
    assert names == list(oracles)
    cert = Q._certified_rounds()

    def rank(n):
        return cert.get(n, -1)

    ranks = [rank(n) for n in names]
    # non-decreasing certification round along the emission order
    assert ranks == sorted(ranks)
    # ties keep registration order
    registered = {n: i for i, n in enumerate(Q.QUERIES)}
    keys = [(rank(n), registered[n]) for n in names]
    assert keys == sorted(keys)


def test_certified_rounds_ignores_failed_and_partial_rows(tmp_path):
    """A row with a hash mismatch, an error, or rows_match=False must
    NOT count as certified; hash_match absent (rows-only check) with
    clean rows/schema must count."""
    art = {
        "good": {"rows_match": True, "schema_match": True,
                 "hash_match": True, "err": None},
        "rows_only": {"rows_match": True, "schema_match": True,
                      "hash_match": None, "err": None},
        "hash_bad": {"rows_match": True, "schema_match": True,
                     "hash_match": False, "err": None},
        "errored": {"rows_match": True, "schema_match": True,
                    "hash_match": True, "err": "boom"},
        "rows_bad": {"rows_match": False, "schema_match": True,
                     "hash_match": True, "err": None},
    }
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps(art))
    cert = Q._certified_rounds(root=str(tmp_path))
    assert cert.get("good") == 7
    assert cert.get("rows_only") == 7
    assert "hash_bad" not in cert
    assert "errored" not in cert
    assert "rows_bad" not in cert
