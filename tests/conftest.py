from __future__ import annotations

import pytest

from transitdata_omm_cancellation_source_spark.artifacts import ARTIFACT_DIR_CONF
from transitdata_omm_cancellation_source_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.001"  # pytest uses the small sf; the
# driver harness re-checks at sf0.01 with the identical oracle SQL.


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    spark = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    # hermetic artifact store: tests never read or write the checkout's
    # warehouse artifacts
    spark.conf.set(ARTIFACT_DIR_CONF, str(tmp_path_factory.mktemp("artifacts")))
    yield spark
    spark.stop()


def package_copy(tmp_path):
    """A copy of the engine package's source tree under ``tmp_path``."""
    import shutil
    from pathlib import Path

    import transitdata_omm_cancellation_source_spark as pkg

    dst = Path(tmp_path) / "pkg_copy"
    shutil.copytree(
        Path(pkg.__file__).parent,
        dst,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    return dst


def edit_source(path, old: str, new: str) -> None:
    """Replace the single occurrence of ``old`` in the file at ``path``."""
    text = path.read_text()
    assert text.count(old) == 1, old
    path.write_text(text.replace(old, new))
