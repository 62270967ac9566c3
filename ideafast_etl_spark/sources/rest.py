"""Paginated REST source (SURVEY.md §2.1 S1, reference drm.py:20-46).

The reference follows a ``next`` cursor until null, 30 records per page. The
Spark-native shape: a driver-side cursor walk that lands pages into a
DataFrame with an explicit schema (pagination is inherently sequential — the
cursor chain can't be parallelised), then everything downstream is
distributed. The pages land through Arrow: one object column per schema
field, so the frame is a local relation and no Python worker runs to
deserialise rows on any action over it. At real scale the idiomatic
variants are (a) land pages to object storage and ``spark.read.json``
them, or (b) a custom PySpark DataSource (Spark 4
``spark.dataSource.register``) when the API supports range-partitioned
reads. The fetcher is injected so tests and the mock vendor
API plug in without HTTP.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .transport import RetryPolicy, retrying

# fetch_page(cursor) -> (rows, next_cursor); cursor None = first page
FetchPage = Callable[[str | None], tuple[list[dict], str | None]]


class PaginatedRestSource:
    def __init__(
        self,
        fetch_page: FetchPage,
        schema: StructType | str,
        max_pages: int | None = None,
        retry: RetryPolicy | None = None,
    ) -> None:
        """``retry`` applies the reference's transport contract
        (dmp.py:126-136 timeout tuple + bounded retries) around each page
        fetch; a page that still fails after exhaustion RAISES — a broken
        scan must fail the run, not silently truncate the feed.
        ``schema`` is a ``StructType`` or its DDL string."""
        self.fetch_page = (
            retrying(fetch_page, retry) if retry is not None else fetch_page
        )
        self.schema = schema
        self.max_pages = max_pages

    def _iter_rows(self) -> Iterator[dict]:
        cursor: str | None = None
        pages = 0
        while True:
            rows, cursor = self.fetch_page(cursor)
            yield from rows
            pages += 1
            if cursor is None or (self.max_pages and pages >= self.max_pages):
                return

    def load(self, spark: SparkSession) -> DataFrame:
        """Every page's records as one frame of ``schema``: fields are
        taken from each record by name (a missing key reads NULL, extra
        keys are dropped). Object columns keep Python values as they are —
        no float round trip for integers next to a missing value; a float
        NaN lands as NULL (Arrow conversion masks it)."""
        schema = (
            StructType.fromDDL(self.schema)
            if isinstance(self.schema, str)
            else self.schema
        )
        rows = list(self._iter_rows())
        pdf = pd.DataFrame(
            {
                f.name: pd.Series([r.get(f.name) for r in rows], dtype=object)
                for f in schema.fields
            }
        )
        return spark.createDataFrame(pdf, schema)


def mock_dreem_api(
    n_records: int, page_size: int = 30, base_epoch: int = 1_639_387_320
) -> FetchPage:
    """Deterministic stand-in for the vendor API (pagination envelope per
    drm.py:41-46: ``{"next": cursor|null, "results": [...]}``), for tests and
    the pipeline demo. Every 5th record has no ``data_url`` (late data, F9)."""

    def fetch(cursor: str | None) -> tuple[list[dict], str | None]:
        start = int(cursor) if cursor else 0
        stop = min(start + page_size, n_records)
        rows = [
            {
                "id": f"ref-{i:06d}",
                "device": f"uid-{i % 7}",
                "report": {
                    "start_time": base_epoch + i * 3600,
                    "stop_time": base_epoch + i * 3600 + 1800,
                },
                "data_url": None if i % 5 == 4 else f"https://example.invalid/f/{i}",
            }
            for i in range(start, stop)
        ]
        return rows, (str(stop) if stop < n_records else None)

    return fetch
