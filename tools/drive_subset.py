"""Cross-engine drive of an explicit SUBSET of registry keys at a
chosen scale — the building block for targeted sweeps the full
drive_contract.py run doesn't label: pre-adjudication checks of an
upcoming rotation block, multi-scale coverage of a named key list,
or a quick re-grade after a localized change.

Keys come from argv; ``--remaining`` substitutes the keys that no
CORRECTNESS file has graded yet (``__spark_entry__.grades``).
Rows-only keys (no oracle_sql entry) get the same >0-rows check the
external driver applies.

``--all`` drives the whole registry, and repeatable ``--conf k=v``
flags inject session confs BEFORE any query runs — the lever for
environment-axis sweeps (AQE off, ANSI flipped, codegen off, …) that
ask: would the driver's host still grade green if its Spark defaults
differ from ours on this axis?

Usage:
    python tools/drive_subset.py q_ts_wau q_win_rsi
    python tools/drive_subset.py --remaining
    python tools/drive_subset.py --all --conf spark.sql.adaptive.enabled=false
    SPARK_GRAFT_SUBSET_SF=/root/testdata/sf0.001 \
        python tools/drive_subset.py --remaining
"""
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

SF_DIR = os.environ.get("SPARK_GRAFT_SUBSET_SF", "/root/testdata/sf0.01")


def _remaining_keys() -> list[str]:
    import __spark_entry__ as entry_mod

    graded = entry_mod.grades()
    return [k for k in entry_mod.queries() if k not in graded]


def main() -> None:
    args = sys.argv[1:]
    confs: list[tuple[str, str]] = []
    rest: list[str] = []
    master = "local[16]"
    i = 0
    while i < len(args):
        if args[i] == "--conf":
            if i + 1 >= len(args) or "=" not in args[i + 1]:
                print("--conf requires k=v", file=sys.stderr)
                sys.exit(2)
            k, _, v = args[i + 1].partition("=")
            confs.append((k, v))
            i += 2
        elif args[i] == "--master":
            if i + 1 >= len(args):
                print("--master requires a value", file=sys.stderr)
                sys.exit(2)
            master = args[i + 1]
            i += 2
        else:
            rest.append(args[i])
            i += 1
    if not rest:
        print("usage: drive_subset.py KEY [KEY ...] | --remaining | --all"
              " [--conf k=v ...]",
              file=sys.stderr)
        sys.exit(2)
    if rest == ["--remaining"]:
        keys = _remaining_keys()
    elif rest == ["--all"]:
        keys = None  # resolved to the full registry below
    elif "--remaining" in rest or "--all" in rest:
        print("--remaining/--all cannot be combined with explicit keys",
              file=sys.stderr)
        sys.exit(2)
    else:
        keys = rest

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from tests.parity import compare, duckdb_conn

    qs = entry_mod.queries()
    if keys is None:
        keys = list(qs)
    unknown = [k for k in keys if k not in qs]
    if unknown:
        print(f"unknown keys: {' '.join(unknown)}", file=sys.stderr)
        sys.exit(2)

    builder = (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", "16")
    )
    for k, v in confs:
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in confs:
        # getOrCreate may have attached to an existing session where
        # builder confs don't apply — set runtime confs explicitly and
        # echo them so the sweep's configuration is part of the record.
        # Static / non-SQL confs (e.g. spark.memory.fraction) raise
        # here (ADVICE r9). If the builder already applied the value
        # (fresh session — the normal sweep path), proceed; otherwise
        # report which conf could not take effect and exit 2 rather
        # than sweep under a configuration we silently failed to apply.
        try:
            spark.conf.set(k, v)
        except Exception as e:  # noqa: BLE001 — adjudicated below
            try:
                applied = spark.conf.get(k)
            except Exception:  # noqa: BLE001
                applied = None
            if applied == v:
                print(f"  [conf] {k}={v} (static, applied at session build)")
                continue
            print(
                f"  [conf] could not apply {k}={v} at runtime "
                f"(attached to an existing session? effective={applied!r}): "
                f"{type(e).__name__}: {str(e)[:200]}",
                file=sys.stderr,
            )
            sys.exit(2)
        print(f"  [conf] {k}={spark.conf.get(k)}")
    oracles = entry_mod.oracle_sql()
    con = duckdb_conn(SF_DIR)
    fails = []
    t0 = time.time()
    for name in keys:
        try:
            if name in oracles:
                ok, msg = compare(qs[name](spark, SF_DIR), con,
                                  oracles[name])
            else:
                cnt = qs[name](spark, SF_DIR).count()
                ok, msg = cnt > 0, f"rows-only returned {cnt} rows"
        except Exception as e:  # noqa: BLE001 — report, don't mask
            ok, msg = False, f"ERR {type(e).__name__}: {e}"
        print(f"  {'ok  ' if ok else 'FAIL'} {name}"
              + ("" if ok else f": {str(msg)[:200]}"))
        if not ok:
            fails.append(name)
    verdict = "green" if not fails else f"{len(fails)} FAIL"
    print(f"[subset @ {SF_DIR}] {len(keys) - len(fails)}/{len(keys)} "
          f"{verdict} in {time.time() - t0:.0f}s")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
