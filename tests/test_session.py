"""get_spark: the settings spark-submit was given win, and only the local
dir the session uses is created."""

import os
import subprocess
import sys
import textwrap

from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit")


def test_spark_submit_master_wins(tmp_path):
    script = tmp_path / "report_master.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            from osm2world_spark.session import get_spark

            s = get_spark(app_name="submit-master")
            print("MASTER", s.sparkContext.master, s.conf.get("spark.sql.shuffle.partitions"))
            print("LOCAL_DIR", s.sparkContext.getConf().get("spark.local.dir"))
            s.stop()
            """
        )
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="512m", SPARK_GRAFT_CPUS="3", PYSPARK_PYTHON=sys.executable)

    def submit(*args):
        out = subprocess.run(
            [SPARK_SUBMIT, "--master", "local[1]", "--driver-memory", "512m", *args, str(script)],
            env=env, capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-4000:]
        return out.stdout.splitlines()

    lines = submit()
    assert [ln for ln in lines if ln.startswith("MASTER ")] == ["MASTER local[1] 1"], lines

    # every other submitted setting wins over the engine's defaults as well
    local_dir = str(tmp_path / "submitted-local")
    lines = submit("--conf", "spark.sql.shuffle.partitions=7", "--conf", f"spark.local.dir={local_dir}")
    assert [ln for ln in lines if ln.startswith(("MASTER ", "LOCAL_DIR "))] == [
        "MASTER local[1] 7",
        f"LOCAL_DIR {local_dir}",
    ], lines


def test_local_dir_from_extra_conf_is_the_only_one_created(tmp_path, monkeypatch):
    from osm2world_spark import session

    made = []
    real_makedirs = os.makedirs

    def recording_makedirs(path, *a, **kw):
        made.append(str(path))
        return real_makedirs(path, *a, **kw)

    monkeypatch.setattr(session.os, "makedirs", recording_makedirs)
    # stop at the builder: report its options instead of starting a session
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    local_dir = str(tmp_path / "spark-local")
    opts = session.get_spark(master="local[1]", extra_conf={"spark.local.dir": local_dir})
    assert opts["spark.local.dir"] == local_dir
    assert made == [local_dir]
