"""Load generator: writes a seeded block history for one benchmark run.

Runs as its own process so that the engine only sees the blocks it
generates::

    python3 perfbench/gen.py --seed 7 --blocks 2500 --out DIR

Writes ``blocks.parquet`` (the measured history, in the engine's block
schema, as a block archive is stored), ``assets.json`` (the
defuse-asset price dimension) and ``meta.json`` (the block heights, and tx
hashes with a height window for explorer-style reads).  The same seed gives the same files.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_blocks(path: str, blocks: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from rust_near_indexer_spark import schemas

    pq.write_table(pa.Table.from_pylist(blocks, schema=to_arrow_schema(schemas.BLOCK)), path)


def lookup_targets(blocks: list[dict], seed: int, n_hashes: int = 8) -> dict:
    """A height window over the middle of the history and a few of its tx
    hashes: what an explorer page asks for."""
    rng = random.Random(seed)
    lo_i = len(blocks) // 3
    hi_i = min(len(blocks) - 1, lo_i + max(len(blocks) // 10, 1))
    hashes = sorted(
        t["transaction"]["hash"]
        for b in blocks[lo_i : hi_i + 1]
        for sh in b.get("shards") or []
        for t in (sh.get("chunk") or {}).get("transactions") or []
    )
    return {
        "lo": blocks[lo_i]["block_height"],
        "hi": blocks[hi_i]["block_height"],
        "tx_hashes": sorted(rng.sample(hashes, min(n_hashes, len(hashes)))),
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--blocks", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from rust_near_indexer_spark import fixtures

    os.makedirs(a.out, exist_ok=True)
    blocks, assets = fixtures.generate(n_blocks=a.blocks, seed=a.seed)
    _write_blocks(os.path.join(a.out, "blocks.parquet"), blocks)
    with open(os.path.join(a.out, "assets.json"), "w") as f:
        json.dump(assets, f)
    with open(os.path.join(a.out, "meta.json"), "w") as f:
        json.dump(
            {
                "heights": [b["block_height"] for b in blocks],
                "lookup": lookup_targets(blocks, a.seed),
            },
            f,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
