"""``tools/oracle_dump.py``: one sorted, whitespace-normalized JSON form
of ``oracle_sql()``, byte-stable across processes, so that two
checkouts' oracles compare with one ``diff``. No Spark session needed."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import __spark_entry__ as entrymod

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TOOL = os.path.join(_ROOT, "tools", "oracle_dump.py")


def _oracle_dump():
    spec = importlib.util.spec_from_file_location("oracle_dump", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dump_holds_every_oracle_key_normalized():
    dumped = json.loads(_oracle_dump().dump())
    oracle = entrymod.oracle_sql()
    assert sorted(dumped) == sorted(oracle)
    assert list(dumped) == sorted(dumped)
    for k, sql in dumped.items():
        assert sql == " ".join(oracle[k].split()), k


def test_two_dumps_are_byte_identical(tmp_path):
    outs = []
    for i in range(2):
        out = tmp_path / f"oracle{i}.json"
        subprocess.run(
            [sys.executable, _TOOL, str(out)], check=True, cwd=tmp_path
        )
        outs.append(out.read_bytes())
    assert outs[0] == outs[1]
    assert outs[0] == _oracle_dump().dump().encode()
