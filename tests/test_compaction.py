"""Small-file compaction contract."""

from __future__ import annotations

import tempfile
import uuid
from pathlib import Path

from etl_jobs_spark.sources.readers import read_table
from etl_jobs_spark.sources.writers import compact_parquet
from tests.conftest import SF_DIR, assert_table_root_clean


def test_compaction_preserves_rows(spark):
    d = str(Path(tempfile.gettempdir()) / f"compact_{uuid.uuid4().hex[:8]}")
    ev = read_table(spark, SF_DIR, "events")
    ev.repartition(37).write.parquet(d)
    before = spark.read.parquet(d)
    n = before.count()
    assert len([f for f in Path(d).glob("part-*")]) == 37
    compact_parquet(spark, d, 4)
    after = spark.read.parquet(d)
    assert after.count() == n
    assert len([f for f in Path(d).glob("part-*")]) == 4
    assert_table_root_clean(d)
