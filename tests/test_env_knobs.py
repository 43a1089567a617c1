"""Guard against new path-selecting env knobs in the package.

Each ``SPARK_GRAFT_*`` variable the package reads is one more way for
two deployments to run different code.  The allowed set is deployment
settings, the plan-test seam and the optional PIL codec route; adding a
knob means editing this list on purpose."""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "target_parquet_spark"

ALLOWED = {
    # deployment settings
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_WAREHOUSE",
    # plan-test seam: lineage.mat returns its input unchanged
    "SPARK_GRAFT_NO_MAT",
    # optional PIL route for the media operators
    "SPARK_GRAFT_NATIVE_CODECS",
}


def test_package_reads_only_allowed_env_knobs():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for name in re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text()):
            found.setdefault(name, path.relative_to(PACKAGE).as_posix())
    unknown = {n: p for n, p in found.items() if n not in ALLOWED}
    assert not unknown, f"env knobs outside the allow-list: {unknown}"
