"""The Python worker daemon that ``get_spark`` selects: its zipimport patch
re-reads an archive only when the archive changed, and a session built
outside the repository still forks its workers from it.

Both checks run in a subprocess: the patch is process-wide, and the
session must not inherit this process's ``sys.path`` or working
directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, cwd: str, timeout: int) -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    return r.stdout


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path):
    out = _run(
        f"""
        import importlib, sys, zipfile, zipimport
        sys.path.insert(0, {REPO!r})
        from kinesis_producer_spark import worker_daemon

        archive = {str(tmp_path / "mods.zip")!r}
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zd_old.py", "X = 1\\n")
        sys.path.insert(0, archive)
        import zd_old

        reads = []
        stock_read = zipimport._read_directory

        def counting_read(path):
            if path == archive:
                reads.append(path)
            return stock_read(path)

        zipimport._read_directory = counting_read
        worker_daemon.install()
        importlib.invalidate_caches()  # first call per importer: stock re-read
        first = len(reads)
        importlib.invalidate_caches()
        second = len(reads) - first

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zd_new.py", "Y = 2\\n")
        importlib.invalidate_caches()
        third = len(reads) - first - second
        import zd_new

        print(first, second, third, zd_new.Y)
        """,
        cwd=str(tmp_path),
        timeout=60,
    )
    first, second, third, y = out.split()
    assert int(first) >= 1
    assert int(second) == 0, "an unchanged archive was re-read"
    assert int(third) >= 1, "a rewritten archive was not re-read"
    assert y == "2"


def test_session_built_outside_the_repo_uses_the_daemon(tmp_path):
    out = _run(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from kinesis_producer_spark.session import get_spark

        spark = get_spark(
            "worker-daemon-test",
            cpus=1,
            extra_conf={{"spark.driver.memory": "512m", "spark.ui.showConsoleProgress": "false"}},
        )

        @F.pandas_udf("string")
        def patched(ids: pd.Series) -> pd.Series:
            import zipimport

            return ids.map(lambda _: zipimport.zipimporter.invalidate_caches.__name__)

        names = {{r[0] for r in spark.range(8, numPartitions=2).select(patched("id")).collect()}}
        spark.stop()
        print("names", *sorted(names))
        """,
        cwd=str(tmp_path),
        timeout=300,
    )
    assert out.split("names", 1)[1].split() == ["invalidate_caches_if_changed"]


def test_package_zip_ships_only_without_the_root_and_goes_with_the_context(tmp_path):
    """``_ship_package`` zips the package only for a session whose
    executors lack the package root (one built elsewhere), and the zip
    goes when that context stops; a ``get_spark`` session's workers
    import the package from the root and no zip is written."""
    out = _run(
        f"""
        import glob, os, sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark import SparkFiles
        from pyspark.sql import SparkSession, functions as F
        from pyspark.sql.types import StringType
        from kinesis_producer_spark.session import _ship_package, get_spark

        def run(spark):
            # a UDF keeps the environment of the context it first ran in
            @F.pandas_udf(StringType())
            def origin(ids: pd.Series) -> pd.Series:
                import kinesis_producer_spark

                return ids.map(lambda _: "zip" if ".zip" in kinesis_producer_spark.__file__ else "root")

            root = SparkFiles.getRootDirectory()
            zips = glob.glob(os.path.join(root, "**", "*.zip"), recursive=True)
            got = {{r[0] for r in spark.range(4, numPartitions=2).select(origin("id")).collect()}}
            spark.stop()
            return len(zips), sorted(got), os.path.exists(root)

        # a session built elsewhere: no package root on the executors' path
        plain = (SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
                 .config("spark.driver.memory", "512m").getOrCreate())
        _ship_package(plain)
        print("plain", *run(plain))
        print("get_spark", *run(get_spark("ship-test", cpus=1, extra_conf={{"spark.driver.memory": "512m"}})))
        """,
        cwd=str(tmp_path),
        timeout=300,
    )
    lines = dict(line.split(" ", 1) for line in out.splitlines() if " " in line)
    # shipped: the zip and Spark's copy of it, both removed with the context
    assert lines["plain"] == "2 ['zip'] False"
    assert lines["get_spark"] == "0 ['root'] False"
