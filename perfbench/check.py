"""Result checks, run outside the timed region.

A row's result is reduced to one digest over its canonical rendering:
columns sorted by name, every cell rendered by the strict canonicaliser of
`tools/local_verify.py`, rows in output order. Two results with equal
digests are exactly the results `local_verify.py --strict` calls equal.
"""
import hashlib
import importlib.util
import os

import duckdb
import pyarrow.parquet as pq


def load_verifier(root):
    """The repository's own strict canonicaliser, so the benchmark and
    the correctness tool can never disagree about what equal means."""
    path = os.path.join(root, "tools", "local_verify.py")
    spec = importlib.util.spec_from_file_location("local_verify", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest_frame(df, verifier):
    df = verifier.norm(df)
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    columns = [df[c].tolist() for c in df.columns]
    for row in zip(*columns):
        h.update(b"\x1e" + "\x1f".join(verifier.canon_cell(v) for v in row).encode())
    return f"{len(df)}:{h.hexdigest()}"


def spark_digest(result_dir, verifier):
    return digest_frame(pq.read_table(result_dir).to_pandas(), verifier)


class Oracle:
    """DuckDB over the same parquet tables the program reads. Digests are
    cached by (canonicaliser, data directory, SQL): the tables never change
    for a given data directory, so a query's answer is computed once per
    checkout."""

    def __init__(self, data_dir, cache_dir, verifier):
        self.data_dir, self.cache_dir, self.verifier = data_dir, cache_dir, verifier
        with open(verifier.__file__, "rb") as f:
            # a changed canonicaliser invalidates every cached digest
            self.salt = hashlib.sha256(f.read()).hexdigest()
        self.con = None
        os.makedirs(cache_dir, exist_ok=True)

    def digest(self, sql):
        key = hashlib.sha256(f"{self.salt}\n{self.data_dir}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, key)
        if os.path.exists(path):
            with open(path) as f:
                return f.read()
        if self.con is None:
            self.con = duckdb.connect()
            for t in self.verifier.TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{self.data_dir}/{t}.parquet')")
        d = digest_frame(self.con.execute(sql).arrow().to_pandas(), self.verifier)
        with open(path + ".tmp", "w") as f:
            f.write(d)
        os.replace(path + ".tmp", path)
        return d
