"""Artifact lifetime for the query modules (queries/registry.py).

Spark-free: ``build_once`` memoises a ``(spark, sf_dir)`` builder on
``sf_dir`` alone, ``scratch_dir`` directories are gone once the
process exits, and no other query module keeps its own temp
directories or per-process cache dicts.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap
from pathlib import Path

from fortymhz_spark.queries.registry import build_once

REPO = Path(__file__).resolve().parents[1]
QUERIES_DIR = REPO / "fortymhz_spark" / "queries"


def test_build_once_builds_once_per_sf_dir():
    calls: list[str] = []

    @build_once
    def builder(spark, sf_dir):
        calls.append(sf_dir)
        return object()

    a = builder("session-1", "/sf/a")
    # a second session in the same process reuses the artifact
    assert builder("session-2", "/sf/a") is a
    assert calls == ["/sf/a"]
    b = builder("session-1", "/sf/b")
    assert b is not a
    assert calls == ["/sf/a", "/sf/b"]
    assert builder.__name__ == "builder"


def test_shared_artifact_builders_are_build_once():
    from fortymhz_spark.queries import curation, lakehouse, llm

    builders = [
        llm._minhash_index_table,
        lakehouse._merge_table,
        curation._bpe_artifact,
        curation._ann_index_table,
        curation._ann_codes_table,
        curation._ann_codes_extended_table,
        curation._ann_codes_deleted_table,
        curation._ann_residual_index_table,
        curation._ann_opq_index_table,
        curation._ann_auto_rotation_tables,
        curation._ann_codes_meta_table,
        curation._ann_tuning_table,
    ]
    # functools.wraps sets __wrapped__; a bare builder would rebuild
    # its artifact on every query execution
    bare = [f.__name__ for f in builders if not hasattr(f, "__wrapped__")]
    assert bare == []


def test_scratch_dirs_are_removed_at_exit(tmp_path):
    code = textwrap.dedent(
        """
        import os
        from fortymhz_spark.queries.registry import scratch_dir

        for prefix in ("one_", "two_"):
            d = scratch_dir(prefix)
            with open(os.path.join(d, "artifact.bin"), "wb") as f:
                f.write(b"x" * 64)
            print(d)
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env=dict(os.environ, TMPDIR=str(tmp_path)),
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    )
    paths = out.stdout.split()
    assert len(paths) == 2
    for p in paths:
        assert Path(p).parent == tmp_path
        assert Path(p).name.startswith("fmhz_")
        assert not os.path.exists(p)
    assert list(tmp_path.iterdir()) == []


def test_query_modules_leave_artifact_lifetime_to_registry():
    offenders = []
    for path in sorted(QUERIES_DIR.glob("*.py")):
        if path.name == "registry.py":
            continue
        src = path.read_text()
        if "mkdtemp" in src:
            offenders.append(f"{path.name}: mkdtemp")
        offenders += [
            f"{path.name}: {m}"
            for m in re.findall(r"^(_\w*_CACHE)\b", src, re.MULTILINE)
        ]
    assert offenders == []
