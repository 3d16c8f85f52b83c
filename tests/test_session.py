"""Session factory: Python workers import the package wherever the
driver runs from."""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_python_workers_import_package_from_any_cwd(tmp_path, sf_dir):
    """A driver that finds ``dbdiff_spark`` through ``sys.path`` alone,
    started from a directory outside the repository with no
    ``PYTHONPATH``, runs a ``mapInPandas`` entry: the workers unpickle
    the codec function, which needs the package.  A ``PYTHONPATH``
    passed through ``extra_conf`` is kept after the package root."""
    extra = str(tmp_path / "extra")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from dbdiff_spark.session import get_spark
        from dbdiff_spark.ops.multimodal import multimodal_dhash_dedup

        spark = get_spark(
            master="local[2]",
            shuffle_partitions=2,
            extra_conf={{
                "spark.driver.memory": "1g",
                "spark.ui.showConsoleProgress": "false",
                "spark.executorEnv.PYTHONPATH": {extra!r},
            }},
        )
        print("PATH", spark.conf.get("spark.executorEnv.PYTHONPATH"))
        print("ROWS", multimodal_dhash_dedup(spark, {sf_dir!r}).count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = dict(l.split(" ", 1) for l in out.stdout.splitlines() if " " in l)
    assert lines["PATH"] == os.pathsep.join([str(REPO), extra])
    assert int(lines["ROWS"]) > 0
