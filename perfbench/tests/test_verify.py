import json
import os
from types import SimpleNamespace

import pytest

from mapreducer_spark.oracle import duck_connection, run_duck
from perfbench.verify import (
    OracleDigests,
    check_result,
    check_sink,
    check_word_counts,
    digest_key,
)

SF_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data", "sf0.01")
QUERY = SimpleNamespace(
    name="nations_per_region",
    oracle="SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n FROM nation GROUP BY n_regionkey",
)


def _result():
    con = duck_connection(SF_DIR)
    try:
        return run_duck(con, QUERY.oracle)
    finally:
        con.close()


def test_correct_result_passes_and_is_cached(tmp_path):
    cache = str(tmp_path / "digests.json")
    expected = OracleDigests(cache, SF_DIR).expected([QUERY])
    cols, rows = _result()
    assert check_result(QUERY.name, cols, rows, expected[QUERY.name]) is None
    with open(cache) as f:
        assert list(json.load(f)) == [
            digest_key(QUERY.name, QUERY.oracle, OracleDigests(cache, SF_DIR).fingerprint)
        ]


def test_tampered_digest_trips_the_check(tmp_path):
    cache = str(tmp_path / "digests.json")
    OracleDigests(cache, SF_DIR).expected([QUERY])
    with open(cache) as f:
        stored = json.load(f)
    for digest in stored.values():
        digest["hash"] = "0" * 64
    with open(cache, "w") as f:
        json.dump(stored, f)
    expected = OracleDigests(cache, SF_DIR).expected([QUERY])  # served from the cache
    cols, rows = _result()
    err = check_result(QUERY.name, cols, rows, expected[QUERY.name])
    assert err is not None and "!= oracle 000000000000" in err


def test_wrong_rows_trip_the_check(tmp_path):
    expected = OracleDigests(str(tmp_path / "d.json"), SF_DIR).expected([QUERY])
    cols, rows = _result()
    assert check_result(QUERY.name, cols, rows[1:], expected[QUERY.name]) is not None
    bumped = [(r[0], r[1] + 1) if i == 0 else r for i, r in enumerate(rows)]
    assert check_result(QUERY.name, cols, bumped, expected[QUERY.name]) is not None


def test_edited_oracle_sql_misses_the_cache(tmp_path):
    cache = str(tmp_path / "digests.json")
    OracleDigests(cache, SF_DIR).expected([QUERY])
    edited = SimpleNamespace(name=QUERY.name, oracle=QUERY.oracle + " HAVING COUNT(*) > 4")
    OracleDigests(cache, SF_DIR).expected([edited])
    with open(cache) as f:
        assert len(json.load(f)) == 2


def test_query_without_oracle_is_refused(tmp_path):
    with pytest.raises(ValueError):
        OracleDigests(str(tmp_path / "d.json"), SF_DIR).expected(
            [SimpleNamespace(name="x", oracle=None)]
        )


def test_word_counts_and_sink(tmp_path):
    expected = {"apple": 3, "banana": 1, "école": 2}
    assert check_word_counts([("banana", 1), ("apple", 3), ("école", 2)], expected) is None
    assert check_word_counts([("banana", 1), ("apple", 2), ("école", 2)], expected)
    assert check_word_counts([("banana", 1), ("apple", 3)], expected)

    out = tmp_path / "out"
    out.mkdir()
    (out / "part-00000.txt").write_text("apple : 3\nbanana : 1\n", encoding="utf-8")
    (out / "part-00001.txt").write_text("école : 2\n", encoding="utf-8")
    (out / "_SUCCESS").write_text("")
    assert check_sink(str(out), expected) is None
    (out / "part-00001.txt").write_text("école : 5\n", encoding="utf-8")
    assert "differ" in check_sink(str(out), expected)
    (out / "part-00000.txt").write_text("banana : 1\napple : 3\n", encoding="utf-8")
    assert "not sorted" in check_sink(str(out), expected)
