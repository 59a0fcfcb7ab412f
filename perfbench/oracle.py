"""Child process of ``analytics_mix``: generate the tables, then run the
DuckDB oracles one by one.

    python3 perfbench/oracle.py SF_DIR SEED SCALE_FACTOR OUT_DIR NAME...

It prints ``ready`` once the tables are written. Each oracle's result is
then pickled to ``OUT_DIR/<NAME>.pkl`` as ``(column names, rows)``, or as
an error message when the oracle failed; the file appears whole, by rename.
It ends by printing its own peak RSS in MB.

Generation and DuckDB run here rather than in the benchmark's driver
process, so that their memory stays out of the driver's peak RSS, and so
that the oracles run while the driver computes Spark's side of each check.
"""

from __future__ import annotations

import os
import pickle
import resource
import sys


def main(argv: list[str]) -> int:
    sf_dir, seed, scale, out_dir, names = argv[0], int(argv[1]), float(argv[2]), argv[3], argv[4:]
    sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import gen
    from tools.selfcheck import duck_con

    from python_btc_etl_spark import plans

    gen.write_analytics_tables(sf_dir, seed, scale)
    print("ready", flush=True)
    con = duck_con(sf_dir)
    try:
        for name in names:
            try:
                res = con.execute(plans.REGISTRY[name].oracle)
                got = ([d[0] for d in res.description], res.fetchall())
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                got = f"oracle failed: {type(exc).__name__}: {exc}"
            path = os.path.join(out_dir, f"{name}.pkl")
            with open(path + ".tmp", "wb") as fh:
                pickle.dump(got, fh)
            os.rename(path + ".tmp", path)
    finally:
        con.close()
    print(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
