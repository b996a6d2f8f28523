"""One-command replica of the verify recipe (.claude/skills/verify):

1. driver contract on a VANILLA session (entry + registry sizes),
2. oracle parity at sf0.001 and sf0.01,
3. (optional, --bench) the sf0.1 bench.

Usage: python tools/verify_all.py [--bench]
Exit code 0 iff every stage passed.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(desc: str, cmd: list[str], env: dict | None = None) -> bool:
    print(f"== {desc}: {' '.join(cmd)}", flush=True)
    e = dict(os.environ)
    if env:
        e.update(env)
    rc = subprocess.run(cmd, cwd=REPO, env=e).returncode
    print(f"== {desc}: {'OK' if rc == 0 else f'FAILED rc={rc}'}", flush=True)
    return rc == 0


def main() -> int:
    ok = run(
        "driver contract (vanilla session)",
        [
            sys.executable,
            "-c",
            (
                "from pyspark.sql import SparkSession\n"
                "spark = SparkSession.builder.master('local[4]').getOrCreate()\n"
                "spark.sparkContext.setLogLevel('ERROR')\n"
                "import __spark_entry__ as e\n"
                "n = e.entry(spark).count()\n"
                "q, o = e.queries(), e.oracle_sql()\n"
                "assert n > 0 and len(q) == len(o) > 0, (n, len(q), len(o))\n"
                "print('entry rows:', n, '| queries:', len(q), '| oracles:', len(o))\n"
            ),
        ],
    )
    ok &= run(
        "oracle parity sf0.001",
        [sys.executable, "-m", "pytest", "tests/test_oracle_parity.py", "-q"],
    )
    ok &= run(
        "oracle parity sf0.01",
        [sys.executable, "-m", "pytest", "tests/test_oracle_parity.py", "-q"],
        env={"ADW_TEST_SF_DIR": "/root/testdata/sf0.01"},
    )
    if "--bench" in sys.argv:
        ok &= run(
            "bench sf0.1",
            [sys.executable, "bench.py"],
            env={"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1"},
        )
    print("VERIFY:", "ALL OK" if ok else "FAILURES ABOVE")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
