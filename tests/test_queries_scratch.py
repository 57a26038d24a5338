"""Round-trip scratch paths (`queries._tmp`) are removed at process exit."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_scratch_dir_is_removed_at_exit(tmp_path):
    code = ("from gdal_spark.queries import _tmp\n"
            "p = _tmp('probe.bin')\n"
            "open(p, 'wb').write(b'x')\n"
            "print(os.path.dirname(p))\n")
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", "import os\n" + code], cwd=ROOT, env=env,
        capture_output=True, text=True, check=True).stdout.strip()
    assert os.path.dirname(out) == str(tmp_path)
    assert os.path.basename(out).startswith("gdal_spark_")
    assert not os.path.exists(out)
    assert os.listdir(tmp_path) == []
