"""Custom connector via the Python Data Source API (Spark 4)
[SURVEY §2.1 beyond-reference]: the pattern for reading a bespoke
internal format or service — partition planning on the driver, row
generation on executors, filter pushdown pruning partitions before a
byte moves.

``docgen`` generates a deterministic synthetic document corpus (the
stand-in for "our internal doc service"): every doc_id always yields
the same text, so reads are reproducible and testable. Partitions
split the id range evenly; pushed doc_id range/equality filters clamp
the id range BEFORE partition planning, so a `WHERE doc_id < k` scan
plans only the partitions that can contain matches — the custom-source
equivalent of partition pruning.

Usage:
    spark.dataSource.register(DocGenDataSource)
    spark.read.format("docgen").option("numdocs", 10000).load()
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)

VOCAB = (
    "data spark engine corpus quality token shuffle partition schema "
    "vector window stream batch column filter join median cluster "
    "sketch sample"
).split()
LANGS = ("en", "es", "de", "fr")


def doc_text(doc_id: int) -> str:
    """Deterministic 24-word text for a doc_id (md5-driven word picks)."""
    words = []
    h = hashlib.md5(f"docgen:{doc_id}".encode()).digest()
    seed = int.from_bytes(h[:8], "big")
    for i in range(24):
        seed = (seed * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        words.append(VOCAB[seed % len(VOCAB)])
    return " ".join(words)


@dataclass(frozen=True)
class IdRangePartition(InputPartition):
    lo: int
    hi: int


class DocGenReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("numdocs", 1000))
        self.n_parts = int(options.get("numpartitions", 8))
        self.lo = 0
        self.hi = self.n  # exclusive

    def pushFilters(self, filters: list[Filter]):
        """Accept doc_id range/equality filters by clamping the planned
        id range; everything else is returned as unsupported so Spark
        re-applies it post-scan (pushdown must never change results)."""
        for f in filters:
            col = getattr(f, "attribute", None)
            if col != ("doc_id",):
                yield f
                continue
            if isinstance(f, EqualTo):
                self.lo = max(self.lo, int(f.value))
                self.hi = min(self.hi, int(f.value) + 1)
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, int(f.value))
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, int(f.value) + 1)
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, int(f.value) + 1)
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, int(f.value))
            else:
                yield f  # unsupported filter shape on doc_id

    def partitions(self):
        """Fixed partition boundaries over the FULL id space, then
        PRUNE the ones outside the pushed range (clamping survivors at
        the edges) — the same semantics as hive-style partition
        pruning: boundaries don't move, non-matching partitions never
        get planned."""
        step = max(1, (self.n + self.n_parts - 1) // self.n_parts)
        lo, hi = self.lo, max(self.lo, self.hi)
        out = []
        for start in range(0, self.n, step):
            end = min(start + step, self.n)
            p_lo, p_hi = max(start, lo), min(end, hi)
            if p_lo < p_hi:
                out.append(IdRangePartition(p_lo, p_hi))
        return out or [IdRangePartition(lo, lo)]

    def read(self, partition: IdRangePartition):
        for doc_id in range(partition.lo, partition.hi):
            yield (doc_id, doc_text(doc_id), LANGS[doc_id % len(LANGS)])


class DocGenStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the same corpus: offsets are doc_id
    watermarks, each micro-batch emits the next ``batchsize`` ids up
    to ``numdocs``. Replayable by construction — readBetweenOffsets
    regenerates any committed range deterministically, which is
    exactly the contract a replayable source (Kafka offsets, file
    lists) satisfies for end-to-end exactly-once."""

    def __init__(self, options):
        self.n = int(options.get("numdocs", 1000))
        self.batch = int(options.get("batchsize", 100))

    def initialOffset(self):
        return {"next": 0}

    def read(self, start):
        lo = int(start["next"])
        hi = min(lo + self.batch, self.n)
        return (self._rows(lo, hi), {"next": hi})

    def readBetweenOffsets(self, start, end):
        return self._rows(int(start["next"]), int(end["next"]))

    def _rows(self, lo: int, hi: int):
        # A materialized list, not a generator: the runner caches and
        # copy.copy()s the iterator for replay, which a generator
        # can't survive. Batches are bounded by `batchsize`, so this
        # is prefetch-sized, not corpus-sized.
        return [
            (doc_id, doc_text(doc_id), LANGS[doc_id % len(LANGS)])
            for doc_id in range(lo, hi)
        ]


class DocGenDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "docgen"

    def schema(self) -> str:
        return "doc_id bigint, text string, lang string"

    def reader(self, schema) -> DocGenReader:
        return DocGenReader(self.options)

    def simpleStreamReader(self, schema) -> DocGenStreamReader:
        return DocGenStreamReader(self.options)
