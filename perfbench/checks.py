"""Output checks for every timed request.

- A query with a DuckDB oracle must produce the oracle's result, compared
  the way ``oracle.compare_query`` does (columns sorted by name, values
  stringified, rows sorted) through a hash of that canonical form. The
  oracle runs once per run, before timing starts.
- A query without an oracle must produce the same canonical hash on every
  request of the run, and on every earlier run with the same inputs (the
  hashes are kept next to the generated inputs).
- The paper pipeline's letter-partitioned files must hold, per letter, the
  ``word:[ids]`` records of the ``inverted_index`` oracle in df-descending,
  word-ascending order.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb
import pandas as pd


def canonical_hash(pdf: pd.DataFrame) -> str:
    from mapreduce_paradigm_spark.oracle import _canonical

    canon = _canonical(pdf)
    digest = hashlib.sha256("\x1f".join(canon.columns).encode())
    digest.update(canon.to_csv(index=False, header=False).encode())
    return f"{digest.hexdigest()[:16]}/{len(canon)}"


def oracle_frame(sf_dir: str, sql: str) -> pd.DataFrame:
    with duckdb.connect() as con:
        for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
            name = os.path.basename(path)[: -len(".parquet")]
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.sql(sql).df()


def read_letters(out_dir: str) -> dict[str, list[str]]:
    """Records per letter, in file order, from a ``letter=<x>/part-*`` tree."""
    got: dict[str, list[str]] = {}
    for part in sorted(glob.glob(os.path.join(out_dir, "letter=*", "part-*"))):
        letter = os.path.basename(os.path.dirname(part))[len("letter="):]
        with open(part, encoding="utf-8") as fh:
            got.setdefault(letter, []).extend(fh.read().splitlines())
    return got


class Checker:
    def __init__(self, bench, hash_file: str) -> None:
        self.bench = bench
        self.hash_file = hash_file
        self.expected: dict[str, str] = {}
        self.letters: dict[str, list[str]] = {}
        self.stored: dict[str, str] = {}
        self.seen: dict[str, str] = {}

    def prepare(self) -> None:
        specs, sf_dir = self.bench.specs, self.bench.sf_dir
        for req in self.bench.workload.requests:
            if req.sink == "letters":
                idx = oracle_frame(sf_dir, specs["inverted_index"].oracle)
                idx = idx.assign(letter=idx["word"].str[0]).sort_values(
                    ["letter", "df", "word"], ascending=[True, False, True]
                )
                for letter, grp in idx.groupby("letter", sort=False):
                    self.letters[letter] = [f"{w}:[{d}]" for w, d in zip(grp["word"], grp["doc_ids"])]
            elif specs[req.query].oracle:
                self.expected[req.query] = canonical_hash(oracle_frame(sf_dir, specs[req.query].oracle))
        if os.path.exists(self.hash_file):
            with open(self.hash_file, encoding="utf-8") as fh:
                self.stored = json.load(fh)

    def check(self, req, rows: pd.DataFrame | None) -> bool:
        """``rows``: what a collecting request returned (None for the letter sink)."""
        if req.sink == "letters":
            return read_letters(self.bench.out_dir) == self.letters
        got = canonical_hash(rows)
        want = self.expected.get(req.query)
        if want is None:
            want = self.seen.setdefault(req.query, self.stored.get(req.query, got))
        ok = got == want
        if not ok:
            print(f"check failed: {req.query}: got {got}, expected {want}", flush=True)
        return ok

    def save(self) -> None:
        if self.seen and not self.stored:
            os.makedirs(os.path.dirname(self.hash_file), exist_ok=True)
            with open(self.hash_file, "w", encoding="utf-8") as fh:
                json.dump(self.seen, fh, indent=1, sort_keys=True)
