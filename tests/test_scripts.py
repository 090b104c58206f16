"""Every ``scripts/<name>.py`` that the package, the tests, bench.py or the
operator docs cite must exist, and every script in ``scripts/`` must
compile. Finished probes are deleted once their numbers are recorded in
BASELINE.md; this keeps a citation from outliving its script.
"""

from __future__ import annotations

import pathlib
import py_compile
import re

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = REPO / "scripts"
SCRIPT_REF = re.compile(r"scripts/(\w+)\.py")


def _citing_files() -> list[pathlib.Path]:
    files = sorted((REPO / "transilien_api_etl_spark").rglob("*.py"))
    files += sorted((REPO / "tests").rglob("*.py"))
    files += [REPO / "bench.py", REPO / "DEPLOY.md", REPO / ".claude/skills/verify/SKILL.md"]
    return [f for f in files if f.exists()]


def test_cited_scripts_exist():
    missing = [
        f"{path.relative_to(REPO)}:{lineno}: scripts/{name}.py"
        for path in _citing_files()
        for lineno, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        for name in SCRIPT_REF.findall(line)
        if not (SCRIPTS / f"{name}.py").exists()
    ]
    assert not missing, "dangling script references:\n" + "\n".join(missing)


@pytest.mark.parametrize("script", sorted(p.name for p in SCRIPTS.glob("*.py")))
def test_script_compiles(script, tmp_path):
    py_compile.compile(str(SCRIPTS / script), cfile=str(tmp_path / "out.pyc"), doraise=True)
