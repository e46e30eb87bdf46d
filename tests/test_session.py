"""The one session factory: tests plan under the conf the bench times."""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_tests_run_on_the_bench_session_conf(spark):
    assert spark.conf.get('spark.sql.shuffle.partitions') == str(
        spark.sparkContext.defaultParallelism
    )
    assert spark.conf.get('spark.sql.session.timeZone') == 'UTC'
    assert spark.conf.get('spark.sql.autoBroadcastJoinThreshold') == '10485760'
    assert spark.conf.get('spark.sql.adaptive.enabled') == 'true'


def test_bench_session_is_the_only_session_builder():
    """Every Spark session outside perfbench/ (which imports the factory
    itself) starts in functions.bench_session."""
    builder = re.compile(r'SparkSession[\s\\]*\.[\s\\]*builder')
    hits = [
        path.relative_to(ROOT).as_posix()
        for path in sorted(ROOT.rglob('*.py'))
        if path.relative_to(ROOT).parts[0] != 'perfbench'
        for _ in builder.findall(path.read_text(encoding='utf-8'))
    ]
    assert hits == ['cyclebane_spark/functions/__init__.py']
