"""Output checks, run outside the timed window.

Registry queries: the collected Spark result must have the digest of
the query's DuckDB oracle at the benchmark's scale
(``mapreducer_spark.oracle.result_digest`` — the same canonicalisation
the repository's oracle gate compares with).  Oracle digests are cached
in a JSON file keyed on the query name, the hash of its oracle SQL and
the md5s of the input tables, so an edited oracle or fixture recomputes.

Word count: the job's result and the ``key : value`` files its sink
wrote must both equal the generator's exact counts.
"""

from __future__ import annotations

import hashlib
import json
import os

from mapreducer_spark.oracle import TABLES, duck_connection, result_digest, run_duck


def fixture_fingerprint(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode() + b"=" + hashlib.md5(f.read()).hexdigest().encode())
    return h.hexdigest()[:16]


def digest_key(name: str, oracle_sql: str, fingerprint: str) -> str:
    sql_hash = hashlib.sha256(oracle_sql.encode()).hexdigest()[:16]
    return f"{name}|{sql_hash}|{fingerprint}"


class OracleDigests:
    """Expected result digests, computed by DuckDB on a cache miss."""

    def __init__(self, cache_path: str, sf_dir: str):
        self.path = cache_path
        self.sf_dir = sf_dir
        self.fingerprint = fixture_fingerprint(sf_dir)
        try:
            with open(cache_path) as f:
                self.cache: dict[str, dict] = json.load(f)
        except (OSError, ValueError):
            self.cache = {}

    def expected(self, queries) -> dict[str, dict]:
        """{name: digest} for registry queries, filling cache misses."""
        out, missing = {}, []
        for q in queries:
            if q.oracle is None:
                raise ValueError(f"{q.name}: no oracle SQL; the benchmark runs only checked queries")
            key = digest_key(q.name, q.oracle, self.fingerprint)
            if key in self.cache:
                out[q.name] = self.cache[key]
            else:
                missing.append((q, key))
        if missing:
            con = duck_connection(self.sf_dir)
            try:
                for q, key in missing:
                    self.cache[key] = out[q.name] = result_digest(*run_duck(con, q.oracle))
            finally:
                con.close()
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
        return out


def check_result(name: str, cols: list[str], rows: list[tuple], expected: dict) -> str | None:
    """None when the result has the expected digest, else why not."""
    got = result_digest(cols, rows)
    if got == expected:
        return None
    return (
        f"{name}: result digest {got['hash'][:12]} ({got['n']} rows, cols {got['cols']}) "
        f"!= oracle {expected['hash'][:12]} ({expected['n']} rows, cols {expected['cols']})"
    )


def check_word_counts(rows: list[tuple], expected: dict[str, int]) -> str | None:
    got = dict(rows)
    if len(got) != len(rows):
        return "word count: duplicate words in the result"
    if got == expected:
        return None
    wrong = sorted(set(got.items()) ^ set(expected.items()))[:5]
    return f"word count: {len(set(got) ^ set(expected))} words differ; e.g. {wrong}"


def read_kv_output(out_dir: str, sep: str = " : ") -> list[tuple[str, int]]:
    """The sink's ``key : value`` lines, in part-file order."""
    pairs = []
    for name in sorted(os.listdir(out_dir)):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(out_dir, name), encoding="utf-8") as f:
            for line in f:
                key, value = line.rstrip("\n").split(sep, 1)
                pairs.append((key, int(value)))
    return pairs


def check_sink(out_dir: str, expected: dict[str, int]) -> str | None:
    pairs = read_kv_output(out_dir)
    keys = [k for k, _ in pairs]
    if keys != sorted(keys):
        return "sink: key : value output is not sorted by key"
    return check_word_counts(pairs, expected)
