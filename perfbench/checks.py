"""Output checks, run untimed after the measured window.

Query results are compared with their DuckDB oracles through the same
comparison the repository's correctness gate uses
(``tools/verify_local.compare``: schema, row count, order-insensitive
values, pandas dtype kinds). Crawl rounds are checked against the
counters the generator predicts, and the gold panels against a DuckDB
recomputation from the parquet store.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass, field

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tools.verify_local import TABLES, compare  # noqa: E402


@dataclass
class Tally:
    """Operations attempted and the ones that failed or were wrong."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{what}: " + "; ".join(problems[:3]))

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_query(
    con: duckdb.DuckDBPyConnection,
    name: str,
    sql: str,
    cols: list[str],
    rows: list[tuple],
    kinds: dict[str, str] | None = None,
) -> list[str]:
    """Problems with one engine result versus the DuckDB answer of ``sql``
    ([] = correct). A difference within float tolerance is a problem too:
    the repository's gate compares exact value hashes."""
    try:
        ora = con.sql(sql).df()
    except duckdb.Error as e:
        return [f"oracle error: {e}"]
    ora_rows = list(ora.itertuples(index=False, name=None))
    return compare(name, cols, rows, list(ora.columns), ora_rows, kinds, ora)


def store_connection(store_path: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the crawl store in the dashboard's input shape:
    ``documents(text, source)`` and ``events(event_id, ts)``."""
    con = duckdb.connect()
    glob = os.path.join(store_path, "**", "*.parquet")
    con.sql(
        f"CREATE VIEW store AS SELECT * FROM read_parquet('{glob}', union_by_name=true)"
    )
    con.sql("CREATE VIEW documents AS SELECT content AS text, source FROM store")
    con.sql(
        "CREATE VIEW events AS SELECT "
        r"CAST(regexp_extract(url, '(\d+)$', 1) AS BIGINT) AS event_id, "
        "CAST(published_at AS TIMESTAMP) AS ts FROM store"
    )
    return con


def gold_expectations(word_topk_sql: str, timeline_sql: str, recent_n: int) -> dict[str, str]:
    """The four dashboard panels as DuckDB SQL over :func:`store_connection`."""
    return {
        "word_topk": word_topk_sql,
        "source_distribution": (
            "SELECT COALESCE(source, 'Unknown') AS source, "
            "CAST(COUNT(*) AS BIGINT) AS cnt FROM documents "
            "WHERE text IS NOT NULL AND length(text) > 0 GROUP BY 1"
        ),
        "timeline": timeline_sql,
        "recent": (
            "SELECT event_id, ts FROM events "
            f"ORDER BY ts DESC NULLS LAST, event_id DESC LIMIT {recent_n}"
        ),
    }
