"""Expected-result store: each query's oracle result hash, computed once.

Entries are keyed by the SHA-256 of the oracle SQL, so an edited oracle
misses the store and is re-run in DuckDB instead of being checked
against a stale hash. Refresh the committed store with::

    python3 perfbench/expected.py
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STORE = HERE / "expected.json"


def sql_digest(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def _oracle_entry(con, sql: str) -> dict:
    from inputosm_spark.oracle_compare import frame_hash

    rows, cols, digest = frame_hash(con.execute(sql).df())
    return {"sql_sha256": sql_digest(sql), "rows": rows, "cols": cols, "hash": digest}


def expected_for(names, oracles: dict[str, str], sf_dir: str) -> tuple[dict, list[str]]:
    """(name -> store entry, names whose entry had to be recomputed)."""
    stored = json.loads(STORE.read_text()) if STORE.exists() else {}
    out, recomputed, con = {}, [], None
    for name in names:
        sql = oracles[name]
        entry = stored.get(name)
        if entry is None or entry["sql_sha256"] != sql_digest(sql):
            if con is None:
                from inputosm_spark.oracle_compare import duck_con

                con = duck_con(sf_dir)
            entry = _oracle_entry(con, sql)
            recomputed.append(name)
        out[name] = entry
    return out, recomputed


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from inputosm_spark.oracle_compare import duck_con
    from inputosm_spark.queries_catalog import oracle_sql

    spec = json.loads((HERE / "workloads.json").read_text())
    names = sorted({q for w in spec["workloads"].values() for q in w["queries"]})
    oracles = oracle_sql()
    con = duck_con(str(ROOT / spec["data_dir"]))
    store = {n: _oracle_entry(con, oracles[n]) for n in names}
    STORE.write_text(json.dumps(store, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(store)} entries to {STORE.relative_to(ROOT)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
