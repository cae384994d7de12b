"""Write the benchmark's input sample from an sf0.1 test-data directory.

    python3 perfbench/make_inputs.py SF_DIR

``SF_DIR`` holds the repository's sf0.1 parquet tables. The three files
written to ``perfbench/inputs/`` are column projections of them, rows and
values unchanged, so a benchmark run reads real sf0.1 data without
reading outside its checkout:

- ``orders.parquet``: the ``orders`` columns ``bench.py`` derives its
  launch rows and payloads from (key, status, total price, date,
  priority); the date is stored as a date, which is all it holds.
- ``embeddings.parquet``: ``vec_id`` and the 64-d ``embedding``.
- ``documents.parquet``: ``doc_id`` and ``text``.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "inputs")
TABLES = {
    "orders": ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    "embeddings": ["vec_id", "embedding"],
    "documents": ["doc_id", "text"],
}


def main(sf_dir: str) -> None:
    os.makedirs(OUT, exist_ok=True)
    for name, cols in TABLES.items():
        t = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"), columns=cols)
        if name == "orders":
            i = t.schema.get_field_index("o_orderdate")
            t = t.set_column(i, "o_orderdate", pc.cast(t["o_orderdate"], pa.date32()))
        strings = [f.name for f in t.schema if f.type == pa.string()]
        pq.write_table(
            t, os.path.join(OUT, f"{name}.parquet"),
            compression="zstd", compression_level=19, use_dictionary=strings,
        )


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1])
    main(sys.argv[1])
