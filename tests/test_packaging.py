"""Packaging/install parity with the reference (VERDICT r5 #1).

The reference ships as an installable library with declared runtime
dependencies and a documented public API entry point
(``clickhouse_migrate.migrate.migrate`` — /root/reference/setup.py:9-23,
README.md:36-41).  These tests pin the same product surface here:
metadata parses, the distribution installs into a CLEAN venv (editable,
legacy path — this sandbox has no ``wheel`` and no network), and the
public ``migrate`` API imports from OUTSIDE the repo directory.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tomllib
import venv

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pyproject() -> dict:
    with open(os.path.join(REPO, "pyproject.toml"), "rb") as f:
        return tomllib.load(f)


def test_metadata_matches_package():
    meta = _pyproject()["project"]
    import clickhouse_migrator_spark as pkg

    assert meta["name"] == "clickhouse-migrator-spark"
    assert meta["version"] == pkg.__version__
    deps = " ".join(meta["dependencies"])
    # runtime deps only — duckdb is the test oracle, never shipped
    for runtime in ("pyspark", "pandas", "pyarrow", "numpy"):
        assert runtime in deps
    assert "duckdb" not in deps
    assert "duckdb" in " ".join(meta["optional-dependencies"]["test"])


def test_no_oracle_engine_import_in_package():
    """The installable package must run with only its declared deps:
    no module under clickhouse_migrator_spark/ may import duckdb."""
    hits = []
    for base, _dirs, files in os.walk(os.path.join(REPO, "clickhouse_migrator_spark")):
        for fn in files:
            if fn.endswith(".py"):
                p = os.path.join(base, fn)
                with open(p) as f:
                    if "import duckdb" in f.read():
                        hits.append(p)
    assert hits == []


def test_editable_install_into_clean_venv(tmp_path):
    """`setup.py develop` into a fresh venv, then import the public API
    with the venv interpreter from a NEUTRAL cwd — proving a user can
    depend on the package rather than vendoring the tree."""
    vdir = tmp_path / "venv"
    venv.EnvBuilder(system_site_packages=True, with_pip=False).create(str(vdir))
    py = str(vdir / "bin" / "python")
    r = subprocess.run(
        [py, "setup.py", "-q", "develop", "--no-deps"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    probe = (
        "import inspect, clickhouse_migrator_spark as m;"
        "from clickhouse_migrator_spark.migrate import migrate;"
        "sig = inspect.signature(migrate);"
        "print(m.__version__, sorted(sig.parameters))"
    )
    r = subprocess.run(
        [py, "-c", probe],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = r.stdout.strip()
    import clickhouse_migrator_spark as pkg

    assert out.startswith(pkg.__version__)
    # reference migrate() parameter parity (minus connection params —
    # the SparkSession replaces host/user/password/port)
    for param in ("db_name", "migrations_home", "create_db_if_no_exists", "queue_exec"):
        assert param in out


def test_editable_install_cleanup():
    """develop leaves an egg-info dir in the tree; it must be
    git-ignored so round artifacts stay clean."""
    r = subprocess.run(
        ["git", "check-ignore", "clickhouse_migrator_spark.egg-info/x"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0


def test_sdist_build_and_install_from_artifact(tmp_path):
    """VERDICT r6 #5: install-from-artifact parity.  The sandbox has no
    `wheel`/`build` and no network, so the PEP 517 build_wheel path is
    unavailable; the sdist path is fully exercisable: build the sdist,
    verify the artifact is COMPLETE (the failure mode editable installs
    cannot catch is a file missing from the distribution), install from
    the EXTRACTED artifact into a clean venv, and import the public API
    with the venv interpreter from a neutral cwd."""
    import tarfile

    dist = tmp_path / "dist"
    r = subprocess.run(
        [sys.executable, "setup.py", "-q", "sdist", "--dist-dir", str(dist)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    arts = list(dist.glob("*.tar.gz"))
    assert len(arts) == 1
    with tarfile.open(arts[0]) as tf:
        names = tf.getnames()
        root = names[0].split("/")[0]
        # artifact completeness: every package module ships
        expected = set()
        pkg_root = os.path.join(REPO, "clickhouse_migrator_spark")
        for base, _dirs, files in os.walk(pkg_root):
            for fn in files:
                if fn.endswith(".py"):
                    rel = os.path.relpath(os.path.join(base, fn), REPO)
                    expected.add(f"{root}/{rel}")
        missing = expected - set(names)
        assert not missing, sorted(missing)
        pkg_info = tf.extractfile(f"{root}/PKG-INFO").read().decode()
        import clickhouse_migrator_spark as pkg

        assert f"Version: {pkg.__version__}" in pkg_info
        tf.extractall(tmp_path)

    vdir = tmp_path / "venv"
    venv.EnvBuilder(system_site_packages=True, with_pip=False).create(str(vdir))
    py = str(vdir / "bin" / "python")
    r = subprocess.run(
        [py, "setup.py", "-q", "install"],
        cwd=str(tmp_path / root),
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    probe = (
        "import clickhouse_migrator_spark as m;"
        "from clickhouse_migrator_spark.migrate import migrate, clear_claims;"
        "print('OK', m.__version__)"
    )
    r = subprocess.run(
        [py, "-c", probe], cwd=str(tmp_path), capture_output=True, text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.startswith("OK ")


def test_wheel_build_and_install_from_artifact(tmp_path):
    """VERDICT r9 #7: the wheel gap, closed offline.  This sandbox has
    no `wheel` package, setuptools 65 (no bundled bdist_wheel) and no
    network — both standard wheel paths are unavailable — so the
    artifact is produced by tools/build_wheel.py (a direct PEP 427
    writer: zip + dist-info with sha256/size RECORD rows) and VALIDATED
    by pip itself: installed with --no-index from the .whl into a clean
    target, then the public API imported with a neutral cwd and ONLY
    the install target on PYTHONPATH."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from build_wheel import build_wheel

    whl = build_wheel(str(tmp_path / "dist"))
    assert whl.endswith("py3-none-any.whl")
    # wheel carries every module the sdist does (completeness parity)
    import zipfile

    with zipfile.ZipFile(whl) as zf:
        names = set(zf.namelist())
    for mod in (
        "clickhouse_migrator_spark/__init__.py",
        "clickhouse_migrator_spark/migrate.py",
        "clickhouse_migrator_spark/operators/joins.py",
        "clickhouse_migrator_spark/streaming/events_stream.py",
    ):
        assert mod in names, mod
    assert any(n.endswith(".dist-info/RECORD") for n in names)

    target = tmp_path / "site"
    r = subprocess.run(
        [sys.executable, "-m", "pip", "install", "--no-index", "--no-deps",
         "--target", str(target), whl],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    probe = (
        "import inspect, clickhouse_migrator_spark as m;"
        "from clickhouse_migrator_spark.migrate import migrate;"
        "print(m.__version__, sorted(inspect.signature(migrate).parameters))"
    )
    env = {**os.environ, "PYTHONPATH": str(target)}
    r = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import clickhouse_migrator_spark as pkg

    assert r.stdout.strip().startswith(pkg.__version__)
    for param in ("db_name", "migrations_home", "create_db_if_no_exists", "queue_exec"):
        assert param in r.stdout


#: evidence files of the retired per-round process; they live in archive/
ROUND_ARTIFACT = re.compile(
    r"^(BENCH_|GATE_|CORRECTNESS_|PLAN_AUDIT_|[A-Z]+_FUZZ_|PERF_r|VERIFY_r|OPTIMIZATION_r)"
)


def test_no_round_artifacts_or_round_named_tests():
    try:
        r = subprocess.run(
            ["git", "ls-files"], cwd=REPO, capture_output=True, text=True
        )
    except FileNotFoundError:
        r = None
    if r is None or r.returncode != 0:
        pytest.skip("not a git checkout")
    files = r.stdout.splitlines()
    assert [f for f in files if "/" not in f and ROUND_ARTIFACT.match(f)] == []
    assert [f for f in files if re.fullmatch(r"tests/test_\w+_r\d+\.py", f)] == []
