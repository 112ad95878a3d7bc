"""Custom connector via the Python DataSource API (Spark 4.0+,
SPARK-44076) — a batch source implemented entirely in Python, no JVM
code, planned and scheduled like any other scan.

This is the S-surface answer for systems with no JVM connector: the
reader declares its partitions (so parallelism and data locality are the
source's choice, exactly like a JVM `InputPartition`), and each partition
generates/fetches its own rows on an executor.  The demo source is a
deterministic synthetic crawl shard — every field derives from
``md5(str(doc_id))``, the repo's standard cross-engine-reproducible hash,
so the DuckDB oracle can recompute the whole dataset arithmetically.

At 100 TB the same skeleton wraps a real paginated API / blob listing:
``partitions()`` returns one InputPartition per shard/page-range, and
``read()`` streams that shard only.  Arrow-batch the yields (the API also
accepts pyarrow RecordBatches) when row volume makes tuple yields the
bottleneck.
"""

from __future__ import annotations

SYNTH_SCHEMA = "doc_id bigint, shard int, score bigint"


def make_synth_crawl_source():
    """Build the DataSource class."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _SynthCrawlReader(DataSourceReader):
        def __init__(self, options: dict):
            self.rows = int(options.get("rows", 1000))
            self.parts = int(options.get("partitions", 8))
            # arrow=true yields pyarrow RecordBatches instead of tuples:
            # one columnar handoff per batch instead of one pickled row
            # each — the volume path (identical results, pinned by test)
            self.arrow = options.get("arrow", "false").lower() == "true"

        def partitions(self):  # one InputPartition per crawl shard
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            # runs ON AN EXECUTOR; imports must be local
            import hashlib

            shard = partition.value
            ids = list(range(shard, self.rows, self.parts))
            scores = [
                int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1000
                for i in ids
            ]
            if self.arrow:
                import pyarrow as pa

                yield pa.RecordBatch.from_pydict(
                    {
                        "doc_id": pa.array(ids, pa.int64()),
                        "shard": pa.array([shard] * len(ids), pa.int32()),
                        "score": pa.array(scores, pa.int64()),
                    }
                )
                return
            for doc_id, score in zip(ids, scores):
                yield (doc_id, shard, score)

    class SynthCrawlSource(DataSource):
        """``spark.read.format("synthcrawl").option("rows", N)`` after
        :func:`register_python_sources`."""

        @classmethod
        def name(cls) -> str:
            return "synthcrawl"

        def schema(self) -> str:
            return SYNTH_SCHEMA

        def reader(self, schema):
            return _SynthCrawlReader(self.options)

    return SynthCrawlSource


def register_python_sources(spark) -> None:
    """Idempotently register the engine's Python data sources."""
    spark.dataSource.register(make_synth_crawl_source())
    spark.dataSource.register(make_synth_stream_source())


def make_synth_stream_source():
    """Streaming variant: a SimpleDataSourceStreamReader with explicit
    offset management ({"pos": n} checkpoints; ``readBetweenOffsets``
    replays a committed range after restart) — the no-JVM path for
    paginated/poll-based feeds."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    def _rows(s: int, e: int):
        import hashlib

        return [
            (
                i,
                int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 1000,
            )
            for i in range(s, e)
        ]

    class _Reader(SimpleDataSourceStreamReader):
        def __init__(self, options: dict):
            self.cap = int(options.get("rows", 1000))
            self.step = int(options.get("batch", 100))

        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            s = start["pos"]
            # never move the end offset BEHIND a restored checkpoint
            # position (cap configured below a committed offset would
            # otherwise regress the offset log into replanning ranges
            # readBetweenOffsets never generated)
            e = max(s, min(s + self.step, self.cap))
            return iter(_rows(s, e)), {"pos": e}

        def readBetweenOffsets(self, start, end):
            # exactly-once replay of a committed range on restart
            return iter(_rows(start["pos"], end["pos"]))

    class SynthStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "synthcrawlstream"

        def schema(self) -> str:
            return "doc_id bigint, score bigint"

        def simpleStreamReader(self, schema):
            return _Reader(self.options)

    return SynthStreamSource
