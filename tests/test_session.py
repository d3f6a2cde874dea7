"""Session factory: the default driver heap fits the host, and Python
workers import the package from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys

from data_engineer_task_spark.session import default_driver_memory

from conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n"
    )
    return str(p)


def test_default_driver_memory_is_three_eighths_of_ram_capped(tmp_path):
    gib = 1024 * 1024  # kB
    assert default_driver_memory(_meminfo(tmp_path, 16 * gib)) == "6144m"
    assert default_driver_memory(_meminfo(tmp_path, 128 * gib)) == "49152m"
    assert default_driver_memory(_meminfo(tmp_path, 512 * gib)) == "49152m"
    assert default_driver_memory(_meminfo(tmp_path, 2 * gib)) == "1024m"
    assert default_driver_memory(str(tmp_path / "absent")) == "49152m"
    (tmp_path / "garbled").write_text("MemTotal: lots\n")
    assert default_driver_memory(str(tmp_path / "garbled")) == "49152m"


def test_arrow_udf_entry_runs_from_another_directory(spark, tmp_path):
    """An Arrow-UDF entry's Python workers import the package when the
    driver runs outside the repository and nothing but ``sys.path``
    points at it."""
    name = "embedding_ivf_topk"
    script = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from data_engineer_task_spark.session import get_spark\n"
        "from data_engineer_task_spark.plans.analytics import QUERIES\n"
        "spark = get_spark('cwd-probe', cpus=2,"
        " extra_conf={'spark.driver.memory': '1g'})\n"
        f"print('ROWS', QUERIES[{name!r}](spark, sys.argv[2]).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script, ROOT, SF_SMOKE],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = [l for l in out.stdout.splitlines() if l.startswith("ROWS ")]
    from data_engineer_task_spark.plans.analytics import QUERIES

    assert rows == [f"ROWS {QUERIES[name](spark, SF_SMOKE).count()}"]
