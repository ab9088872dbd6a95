from __future__ import annotations

import math
import sys
from collections import defaultdict
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from wikipedia_org_xmldump_importer_spark.io import load_table  # noqa: E402
from wikipedia_org_xmldump_importer_spark.session import build_session  # noqa: E402

FIXTURES = Path(__file__).resolve().parent / "fixtures"
SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
DAY_US = 86_400_000_000


def half_away(x: float) -> int:
    """ROUND-to-integer as both engines do it (half away from zero);
    inputs here are nonnegative so floor(x + 0.5) is exact (trap #30)."""
    return int(math.floor(x + 0.5))


def daily_counts(spark, types=None):
    """Events per (event_type, day) replayed from the raw sf0.001 rows;
    ``types`` keeps only those event types."""
    ev = load_table(spark, SF_SMOKE, "events").collect()
    daily: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    for r in ev:
        if types is None or r.event_type in types:
            daily[r.event_type][r.ts_us // DAY_US] += 1
    return daily


@pytest.fixture(scope="session")
def spark():
    s = build_session("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
