"""The CLI's session and error boundary: `get_spark` leaves a running
or launcher-configured session's settings alone, every subcommand is
dispatched through one handler table, and an operator error exits 2
without leaving a cached frame behind."""

from __future__ import annotations

import argparse
import logging
import os
import subprocess
import sys

from pyspark.find_spark_home import _find_spark_home
from pyspark.logger import PySparkLogger

from bigdime_spark import cli

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _subcommands() -> dict[str, argparse.ArgumentParser]:
    parser = cli._build_parser()
    (sub,) = [a for a in parser._actions if isinstance(a, argparse._SubParsersAction)]
    return sub.choices


def test_every_subcommand_has_a_handler_and_spark_ones_take_master():
    subs = _subcommands()
    assert set(cli._HANDLERS) == set(subs)
    for name, parser in subs.items():
        flags = {s for a in parser._actions for s in a.option_strings}
        assert ("--master" in flags) == (name not in ("report", "synth")), name


def test_spark_submit_master_and_name_stand(tmp_path):
    """Under spark-submit the launcher owns the master and app name."""
    script = tmp_path / "probe.py"
    script.write_text(
        "from bigdime_spark.session import get_spark\n"
        "sc = get_spark().sparkContext\n"
        "print('SESSION', sc.master, sc.appName)\n"
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    submit = os.path.join(_find_spark_home(), "bin", "spark-submit")
    proc = subprocess.run(
        [submit, "--master", "local[2]", "--name", "session-probe", str(script)],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("SESSION ")]
    assert lines == ["SESSION local[2] session-probe"]


def test_cli_keeps_the_callers_runtime_confs(spark, tmp_path):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        rc = cli.main(["synth", "--rows", "64", "--parts", "2", "--out", str(tmp_path)])
        assert rc == 0
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, before)


def test_profile_error_leaves_no_cached_frame(spark, tmp_path, capsys):
    """--benford persists its profile before --masks fails on a missing
    column; the exit-2 path must still release it."""
    src = str(tmp_path / "t")
    spark.range(20).selectExpr(
        "concat('p', cast(id % 2 as string)) as part", "cast(id + 1 as double) as sz"
    ).write.parquet(src)
    spark.catalog.clearCache()
    rc = cli.main(
        ["profile", "--input", src, "--benford", "sz", "--masks", "nope",
         "--out", str(tmp_path / "o")]
    )
    assert rc == 2
    assert "\nprofile: " in "\n" + capsys.readouterr().err
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_missing_column_exits_2_not_a_traceback(spark, tmp_path, capsys):
    src = str(tmp_path / "t")
    spark.range(4).selectExpr("cast(id as string) as image_id", "id as phash").write.parquet(src)
    rc = cli.main(
        ["dedup", "--input", src, "--out", str(tmp_path / "o"), "--id-col", "nope"]
    )
    assert rc == 2
    assert "\ndedup: [UNRESOLVED_COLUMN" in "\n" + capsys.readouterr().err


class _Records(logging.Handler):
    def __init__(self):
        super().__init__()
        self.records = []

    def emit(self, record):
        self.records.append(record)


def test_exit_2_logs_no_query_context(spark, tmp_path, capsys):
    """pyspark logs an AnalysisException's query context, JVM stack
    included, as a JSON ERROR line when it builds the exception; under
    `main` the operator reads the `<cmd>: <message>` line alone, and
    the loggers' levels are back as they were once `main` returns."""
    src = str(tmp_path / "t")
    spark.range(4).selectExpr("cast(id as string) as image_id", "id as phash").write.parquet(src)
    loggers = [PySparkLogger.getLogger(n) for n in cli._QUERY_CONTEXT_LOGGERS]
    levels = [lg.level for lg in loggers]
    seen = _Records()
    for lg in loggers:
        lg.addHandler(seen)
    try:
        rc = cli.main(
            ["dedup", "--input", src, "--out", str(tmp_path / "o"), "--id-col", "nope"]
        )
    finally:
        for lg in loggers:
            lg.removeHandler(seen)
    err = capsys.readouterr().err
    assert rc == 2
    assert seen.records == []
    assert err.startswith("dedup: [UNRESOLVED_COLUMN")
    assert '"level": "ERROR"' not in err and "JVM" not in err
    assert [lg.level for lg in loggers] == levels


def test_run_refuses_a_missing_kmv_key_before_writing(spark, tmp_path, capsys):
    """A refusal after the run appended lineage would leave a run that a
    rerun resume-skips, so a bad --kmv-keys entry is refused before any
    output."""
    fx = tmp_path / "fx"
    assert cli.main(["synth", "--rows", "64", "--parts", "2", "--out", str(fx)]) == 0
    out = tmp_path / "o"
    rc = cli.main(
        ["run", "--raw", str(fx / "raw"), "--out", str(out), "--lineage",
         str(out / "lineage"), "--run-id", "r1", "--kmv-keys", "image_id,nope"]
    )
    assert rc == 2
    assert "\nrun: --kmv-keys: not in the raw schema: nope\n" in "\n" + capsys.readouterr().err
    assert not out.exists()
