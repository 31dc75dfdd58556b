"""Checks that need no SparkSession."""

import dis
import os
from collections import Counter
from pathlib import Path

from machine_learning_with_spark_streaming_spark import session

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "machine_learning_with_spark_streaming_spark"


def test_default_driver_memory_fits_host_ram():
    phys_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    assert 0 < int(session._default_driver_memory().removesuffix("m")) < phys_mb


def _names(code) -> set[str]:
    """Names ``code`` and the code nested in it load, import, read as
    attributes or spell as identifier strings (getattr, __all__)."""
    names = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, str) and c.isidentifier():
            names.add(c)
        elif hasattr(c, "co_names"):
            names |= _names(c)
    return names


def test_every_package_definition_is_referenced():
    # compiled code, not ast.parse (3x slower over the ~50k lines read): a
    # top-level def or class is a code object among its module's constants
    units, defs = [], []
    files = [*PKG.rglob("*.py"), *ROOT.glob("tools/*.py"), *ROOT.glob("tests/**/*.py")]
    for f in files + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]:
        module = compile(f.read_text(), str(f), "exec", dont_inherit=True)
        # module-level names; a def stored right after a register(...)
        # load is a registered query, reached through queries()
        top, registered, pending = set(), set(), False
        for ins in dis.get_instructions(module):
            if ins.opname == "STORE_NAME":
                if pending:
                    registered.add(ins.argval)
                pending = False
            elif isinstance(ins.argval, str):
                top.add(ins.argval)
                pending = pending or ins.argval == "register"
        units.append(top)
        for c in module.co_consts:
            if hasattr(c, "co_names"):
                units.append(_names(c))
                if f.is_relative_to(PKG) and c.co_name.isidentifier():
                    if c.co_name not in registered:
                        defs.append((f, c, units[-1]))
    uses = Counter(n for unit in units for n in unit)
    unused = [
        f"{f.relative_to(ROOT)}:{c.co_firstlineno} {c.co_name}"
        for f, c, own in defs
        if uses[c.co_name] == (c.co_name in own)
    ]
    assert not unused, unused
