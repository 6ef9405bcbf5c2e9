"""Guard: the package and the driver entry read no SPARK_GRAFT_* switch except
the deployment setting SPARK_GRAFT_CPUS. Strategy choices are data-size rules
held in module constants (tests force a fallback by patching the constant),
so every operator has one code path per input size."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
ALLOWED = {"SPARK_GRAFT_CPUS"}


def test_no_env_switches_outside_cpus():
    files = sorted((ROOT / "lantern_extras_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    found = []
    for path in files:
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for name in re.findall(r"SPARK_GRAFT_\w*", line):
                if name not in ALLOWED:
                    found.append(f"{path.relative_to(ROOT)}:{lineno}: {name}")
    assert len(files) > 1
    assert not found, "\n".join(found)
