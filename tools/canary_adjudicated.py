"""Per-round drift canary over LONG-ADJUDICATED keys (VERDICT r8 #6).

The rotation fronts never-adjudicated keys, so a key last graded in r2
would never be externally re-checked — silent drift on old keys could
hide behind the rotation. This tool pins a DETERMINISTIC per-round
selection of adjudicated keys (seeded by the round number, so the
choice is reproducible by the judge, not cherry-picked) and re-drives
them cross-engine at sf0.1 — the scale that catches magnitude-dependent
float divergence the sf0.01 drive can miss. The closing full drives
already cover every key; this canary makes the old-key re-grade an
explicit, named, recorded artifact: ROUNDLOG cites the round's canary
keys and their verdicts.

Usage:
    python tools/canary_adjudicated.py 9          # round 9's canary
    python tools/canary_adjudicated.py 9 --list   # selection only
"""
import os
import random
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

CANARY_SIZE = 5
SF_DIR = os.environ.get("SPARK_GRAFT_CANARY_SF", "/root/testdata/sf0.1")


def canary_keys(round_no: int) -> list[str]:
    """The round's canary: CANARY_SIZE oracle-backed graded keys (those
    in the CORRECTNESS files), drawn by a random.Random seeded with the
    round number over the SORTED graded set — same list for everyone
    who runs this."""
    import __spark_entry__ as entry_mod
    from oke_cassandra_spark_locality_demo_spark import registry

    oracles = registry.all_oracles()
    pool = sorted(k for k in entry_mod.grades() if k in oracles)
    return random.Random(round_no).sample(pool, CANARY_SIZE)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--list"]
    if len(args) != 1 or not args[0].isdigit():
        print(__doc__.strip().splitlines()[-2].strip(), file=sys.stderr)
        print(__doc__.strip().splitlines()[-1].strip(), file=sys.stderr)
        sys.exit(2)
    round_no = int(args[0])
    keys = canary_keys(round_no)
    print(f"[canary r{round_no}] {' '.join(keys)}")
    if "--list" in sys.argv:
        return

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from tests.parity import compare, duckdb_conn

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    con = duckdb_conn(SF_DIR)
    fails = []
    t0 = time.time()
    for name in keys:
        try:
            ok, msg = compare(qs[name](spark, SF_DIR), con, oracles[name])
        except Exception as e:  # noqa: BLE001 — report, don't mask
            ok, msg = False, f"ERR {type(e).__name__}: {e}"
        print(f"  {'ok  ' if ok else 'FAIL'} {name}"
              + ("" if ok else f": {str(msg)[:200]}"))
        if not ok:
            fails.append(name)
    print(
        f"[canary r{round_no}] {CANARY_SIZE - len(fails)}/{CANARY_SIZE} "
        f"green at {SF_DIR} in {time.time() - t0:.0f}s"
    )
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
