"""Output checks of the registry workloads.

Each query result (one parquet directory per query, written by the
harness's checked pass) is compared to its DuckDB oracle with the method
of `scripts/selfcheck.py`: columns sorted by name, dtype kinds equal,
same row count, cells equal after rounding floats to 9 digits. A query
without an oracle is compared to a pinned result hash in `pinned.json`.

The oracle's answer depends only on its SQL and the fixture files, so
it is cached under `.bench_build/oracle-cache`, keyed by both.
"""
import hashlib
import json
import math
from pathlib import Path

HERE = Path(__file__).resolve().parent
PINNED = HERE / "pinned.json"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if hasattr(v, "item") and not isinstance(v, (list, dict, str, bytes)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if v is None:
        return None
    if isinstance(v, (int, str, bool)):
        return v
    if hasattr(v, "tolist"):
        return [_norm(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _norm(x) for k, x in sorted(v.items())}
    return str(v)


def canonical(df) -> dict:
    """Column-name-sorted, dtype-kind-tagged, normalized rows, hashed."""
    cols = sorted(df.columns)
    kinds = []
    for c in cols:
        k = df[c].dtype.kind
        kinds.append("i" if k == "u" else k)
    rows = [[_norm(df[c].iloc[i]) for c in cols] for i in range(len(df))]
    blob = json.dumps({"cols": cols, "kinds": kinds, "rows": rows}, default=str,
                      separators=(",", ":"))
    return {"cols": cols, "kinds": kinds, "rows": len(rows),
            "sha256": hashlib.sha256(blob.encode()).hexdigest()}


def _connect(fixtures: str):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    for t in TABLES:
        p = Path(fixtures) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _fixture_key(fixtures: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        p = Path(fixtures) / f"{t}.parquet"
        if p.exists():
            h.update(f"{t}:{p.stat().st_size}".encode())
    return h.hexdigest()


def result_canonicals(check_dir: str, names: list) -> dict:
    """The canonical form of each query result the harness wrote."""
    import duckdb
    con = duckdb.connect()
    out = {}
    for n in names:
        d = Path(check_dir) / n
        if not any(d.glob("*.parquet")):
            continue
        out[n] = canonical(con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").df())
    return out


def check(check_dir: str, fixtures: str, names: list, cache_dir: Path):
    """([(query, ok, detail)] for every query in `names`, {query: canonical})."""
    oracle = json.loads((Path(check_dir) / "oracle_sql.json").read_text())
    pinned = json.loads(PINNED.read_text()) if PINNED.exists() else {}
    got = result_canonicals(check_dir, names)
    cache_dir.mkdir(parents=True, exist_ok=True)
    fkey = _fixture_key(fixtures)
    con = None
    results = []
    for n in names:
        if n not in got:
            results.append((n, False, "no result written"))
            continue
        g = got[n]
        if n in oracle:
            key = hashlib.sha256((fkey + oracle[n]).encode()).hexdigest()[:32]
            cached = cache_dir / f"{key}.json"
            if cached.exists():
                want = json.loads(cached.read_text())
            else:
                con = con or _connect(fixtures)
                try:
                    want = canonical(con.execute(oracle[n]).df())
                except Exception as e:  # an oracle that cannot run is a failed check
                    results.append((n, False, f"oracle SQL error: {e}"))
                    continue
                cached.write_text(json.dumps(want))
            source = "duckdb oracle"
        elif n in pinned:
            want, source = pinned[n], "pinned hash"
        else:
            results.append((n, False, "no oracle and no pinned hash"))
            continue
        ok = all(g[k] == want[k] for k in ("cols", "kinds", "rows", "sha256"))
        detail = (f"{g['rows']} rows equal the {source}" if ok else
                  f"differs from the {source}: spark cols={g['cols']} kinds={g['kinds']} "
                  f"rows={g['rows']}; expected cols={want['cols']} kinds={want['kinds']} "
                  f"rows={want['rows']}")
        results.append((n, ok, detail))
    return results, got


def pin(result_files: list) -> None:
    """Pin the result hashes of queries without an oracle, from run.py
    result files of a run whose other checks all passed."""
    pinned = json.loads(PINNED.read_text()) if PINNED.exists() else {}
    for f in result_files:
        r = json.loads(Path(f).read_text())
        for n, canon in r.get("result_canonicals", {}).items():
            if n not in r.get("oracle_queries", []):
                pinned[n] = canon
    PINNED.write_text(json.dumps(dict(sorted(pinned.items())), indent=1) + "\n")


if __name__ == "__main__":
    import sys
    if len(sys.argv) < 3 or sys.argv[1] != "pin":
        sys.exit("usage: python3 perfbench/oracle.py pin <run.py result file>...")
    pin(sys.argv[2:])
