"""Seeded workload inputs for the X12 medallion benchmark.

Every corpus is ``ai_fabric_etl_spark.x12.testgen.generate_corpus``
output (never edited here), so the program under test sees only
ordinary landing-directory files. Each corpus also carries the ground
truth the output checks need: the expected transaction count per type
and per file, the interchange count (one 997 acknowledgment is due per
interchange) and ``testgen.expected_silver``'s envelope rows.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

from ai_fabric_etl_spark.x12 import testgen


@dataclass(frozen=True)
class Corpus:
    """Generated landing files plus the counts a correct run must show."""

    files: list[tuple[str, str]]
    tx_by_type: dict[str, int]
    tx_by_file: dict[str, int]
    interchanges: int
    expected_silver: list[dict]

    @property
    def transactions(self) -> int:
        return sum(self.tx_by_type.values())


def small_files(seed: int, n_files: int) -> Corpus:
    """``n_files`` small interchanges: 1-3 sets each, all 9 types, one
    interchange per file. A prefix of a larger corpus of the same seed
    is that smaller corpus (``generate_corpus`` draws file by file)."""
    files = testgen.generate_corpus(n_files=n_files, seed=seed)
    expected = testgen.expected_silver(n_files=n_files, seed=seed)
    return Corpus(
        files=files,
        tx_by_type=dict(Counter(r["transaction_type"] for r in expected)),
        tx_by_file=dict(Counter(r["file_name"] for r in expected)),
        interchanges=n_files,
        expected_silver=expected,
    )


def files_holding(corpus: Corpus, start: int, n_tx: int) -> int:
    """How many files from ``start`` on hold at least ``n_tx`` transactions
    (fixing the transaction count, not the file count, keeps throughput
    comparable across seeds)."""
    total = 0
    for k, (name, _) in enumerate(corpus.files[start:], 1):
        total += corpus.tx_by_file[name]
        if total >= n_tx:
            return k
    raise ValueError(f"corpus holds fewer than {n_tx} transactions after file {start}")


def small_files_holding(seed: int, n_tx: int) -> Corpus:
    """The shortest small-file corpus of ``seed`` with at least ``n_tx``
    transactions (every file holds at least one)."""
    return small_files(seed, files_holding(small_files(seed, n_tx), 0, n_tx))


def write_files(files: list[tuple[str, str]], directory: str) -> None:
    """Land ``files`` in ``directory`` (created if missing)."""
    os.makedirs(directory, exist_ok=True)
    for name, content in files:
        with open(os.path.join(directory, name), "w", encoding="utf-8") as fh:
            fh.write(content)
