"""Registry check: each sampled query's result, as the program wrote it to
parquet, must equal DuckDB's run of the query's oracle SQL over the same
tables. The comparison is the repository's own correctness gate
(`scripts/oracle_check.py`): oracle type lint, column names, row count,
dtype parity, then exact values with rows sorted."""
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from oracle_check import TABLES, compare, oracle_type_lint  # noqa: E402


def check_registry(tables_dir: str, results: Path, names: list[str]) -> list[str]:
    """`results` holds <name>/ (parquet written by the program) and
    <name>.sql (the query's oracle SQL) for each name."""
    con = duckdb.connect()
    for t in TABLES:
        if (Path(tables_dir) / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    errs = []
    for n in names:
        try:
            got = pd.read_parquet(results / n)
            sql = (results / f"{n}.sql").read_text()
            want = con.execute(sql).fetchdf()
        except Exception as e:  # a missing result or a failing oracle is a failed check
            errs.append(f"{n}: {e}")
            continue
        errs += [f"{n}: {e}" for e in oracle_type_lint(con, n, sql) + compare(n, got, want)]
    return errs
