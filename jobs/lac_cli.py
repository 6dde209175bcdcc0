#!/usr/bin/env python
"""Interactive/stdin analyzer — the reference's REPL front-end (O1,
/root/reference/python/LAC/cmdline.py:54-69) over our engine.

    echo "百度是一家高科技公司" | python jobs/lac_cli.py --mode rank
    python jobs/lac_cli.py --mode seg < corpus.txt
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", default="lac", choices=["seg", "lac", "rank"])
    ap.add_argument("--custom-dict", default=None)
    ap.add_argument("--batch-lines", type=int, default=512,
                    help="stdin lines analyzed per engine batch")
    args = ap.parse_args()

    from lacspark.engine import LacEngine

    engine = LacEngine()
    if args.custom_dict:
        engine.load_customization(args.custom_dict)

    def emit(batch: list[str]) -> None:
        for res in engine.run_batch(batch, mode=args.mode):
            if args.mode == "seg":
                print(" ".join(res.words))
            elif args.mode == "lac":
                print(" ".join(f"{w}/{t}"
                               for w, t in zip(res.words, res.tags)))
            else:
                print(" ".join(
                    f"{w}/{t}/{r}" for w, t, r in
                    zip(res.words, res.tags, res.ranks)))

    batch: list[str] = []
    for line in sys.stdin:
        batch.append(line.rstrip("\n"))
        if len(batch) >= args.batch_lines:
            emit(batch)
            batch = []
    if batch:
        emit(batch)


if __name__ == "__main__":
    main()
