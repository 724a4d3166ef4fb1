#!/usr/bin/env python
"""Capture per-query ``.explain("formatted")`` output for a round's
optimization evidence trail (plans/<round>/<query>_<tag>.txt).

The dump is taken AFTER executing the query's own DataFrame (collect),
so with AQE the file carries the FINAL adaptive plan
(``isFinalPlan=true`` with AQEShuffleRead nodes and their coalesced
partition specs) — the runtime shape the optimization claims are
about, not just the static estimate.

Usage:
    python tools/capture_plans.py <round> <tag> <query>[,<query>...]

Round names the output directory under plans/ (e.g. ``r16``).

Tag is typically "before" (run with the kill switches:
SPARK_GRAFT_SPLIT_STAGE=0 SPARK_GRAFT_AQE_MIN_PARTITION_SIZE=1m
SPARK_GRAFT_OPEN_COST_BYTES=4194304) or "after" (current defaults).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> None:
    round_, tag = sys.argv[1], sys.argv[2]
    names = [n for n in sys.argv[3].split(",") if n]
    out = REPO / "plans" / round_
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from frinesis_spark import registry
    from frinesis_spark.session import get_spark

    spark = get_spark(f"capture_plans_{round_}_{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.queries()
    out.mkdir(parents=True, exist_ok=True)

    for name in names:
        if name not in queries:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"capture:{name}:{tag}")
        df = queries[name](spark, sf_dir)
        df.collect()  # finalize the adaptive plan on THIS DataFrame
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = out / f"{name}_{tag}.txt"
        path.write_text(
            f"# {name} — {tag} (sf_dir={sf_dir}, "
            f"cores={os.environ.get('SPARK_GRAFT_CPUS', '?')}, "
            "final adaptive plan after execution)\n" + buf.getvalue()
        )
        print(f"wrote {path}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
