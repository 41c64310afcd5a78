"""Time every registered operator once (noop sink) at a given sf_dir.

Produces the per-op cost checklist for the optimization rounds: each op
is built fresh and materialized through the noop sink (full computation,
no driver collect), wall-clock includes plan construction — the same
cost profile the driver's certification sweep pays.

Usage: python tools/op_timing_sweep.py [--sf DIR] [--out FILE] [op ...]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/op_timing.json")
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()

    from secdb_spark.registry import all_queries
    from secdb_spark.session import get_spark

    spark = get_spark("op-timing-sweep")
    queries = all_queries()
    names = args.ops or sorted(queries)
    out: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        try:
            spark.sparkContext.setJobDescription(name)
            queries[name](spark, args.sf).write.mode("overwrite").format(
                "noop"
            ).save()
            out[name] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            out[name] = -1.0
            print(f"ERR {name}: {exc}", file=sys.stderr)
        finally:
            spark.sparkContext.setJobDescription(None)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    for name, sec in sorted(out.items(), key=lambda kv: -kv[1])[:40]:
        print(f"{sec:8.3f}  {name}")
    print(f"total {sum(v for v in out.values() if v > 0):.1f}s over {len(out)} ops -> {args.out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
