"""Regenerate ``data/documents.parquet`` from an sf0.1 fixture directory.

    python3 perfbench/make_data.py SF01_DIR

Copies the ``doc_id`` and ``text`` columns of ``SF01_DIR/documents.parquet``
(zstd-compressed), and checks that ``SF01_DIR/customer.parquet`` names
follow the rule ``inputs.name`` generates them by.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.inputs import N_CUSTOMERS, name  # noqa: E402


def main(sf_dir: str) -> None:
    cust = pq.read_table(os.path.join(sf_dir, "customer.parquet"), columns=["c_custkey", "c_name"])
    keys, names = cust.column("c_custkey").to_pylist(), cust.column("c_name").to_pylist()
    assert len(keys) == N_CUSTOMERS and all(name(k) == n for k, n in zip(keys, names))
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    pq.write_table(
        docs, os.path.join(HERE, "data", "documents.parquet"), compression="zstd", compression_level=19
    )


if __name__ == "__main__":
    main(sys.argv[1])
