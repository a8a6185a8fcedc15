"""Dump formatted physical plans for one round's before/after evidence.

Usage: python scripts/dump_round_plans.py <round> <suffix> [--out DIR] [name ...]

Writes <out>/<query>_<suffix>.txt for every headline query (or the
named queries) — the .explain("formatted") output the optimization
round's claims are checked against. ``<round>`` is the round number
(``12`` writes plans/r12). ``--out`` defaults to the invoking repo's
plans/r<round> (pass the MAIN repo's plans/r<round> when running from
a pristine checkout to collect the *_before.txt side).
"""
from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from data_integration_pipelines_spark.plans import REGISTRY  # noqa: E402
from data_integration_pipelines_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    round_, suffix = args.pop(0), args.pop(0)
    out_dir = _REPO / "plans" / f"r{round_}"
    if args and args[0] == "--out":
        args.pop(0)
        out_dir = Path(args.pop(0))
    names = args or [n for n, q in REGISTRY.items() if q.headline]
    sf_dir = "/root/testdata/sf0.1"
    spark = get_spark(f"dump-plans-r{round_}")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        q = REGISTRY[name]
        df = q.fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{name}_{suffix}.txt").write_text(buf.getvalue())
        print(name, "->", f"{out_dir}/{name}_{suffix}.txt")


if __name__ == "__main__":
    main()
