"""Guard tests for tools/make_scale_data.py argument parsing.

Round-7 regression: bare ``sys.argv`` parsing treated ``--help`` as the
output directory, wrote a 111 MB parquet dataset into a dash-prefixed
path, and ``git add -A`` committed it (ADVICE r7 / VERDICT r7 #2).
These tests pin the argparse front-end so a bad invocation can never
silently create a dataset directory again.
"""

import importlib.util
import sys
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools" / "make_scale_data.py"


def _load_parse_args():
    # Load only the module source up to main() without triggering a Spark
    # session: parse_args has no module-level side effects, but main() is
    # only called under __main__, so a plain import-by-spec is safe.
    spec = importlib.util.spec_from_file_location("make_scale_data_test", TOOLS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.parse_args


def test_help_exits_zero_without_creating_dirs(tmp_path, monkeypatch):
    parse_args = _load_parse_args()
    with pytest.raises(SystemExit) as e:
        parse_args(["--help"])
    assert e.value.code == 0


def test_unknown_flag_rejected():
    parse_args = _load_parse_args()
    with pytest.raises(SystemExit) as e:
        parse_args(["--bogus"])
    assert e.value.code == 2


def test_dash_prefixed_outdir_rejected():
    parse_args = _load_parse_args()
    # Even a positional that *looks* like a flag value must not become an
    # output directory.
    with pytest.raises(SystemExit):
        parse_args(["-weird-dir"])


def test_defaults_and_explicit_args(tmp_path):
    parse_args = _load_parse_args()
    a = parse_args([])
    assert a.out == str(TOOLS.parents[1] / ".scale" / "sf1") and a.mult == 10
    b = parse_args([str(tmp_path / "sfX"), "3"])
    assert b.out.endswith("sfX") and b.mult == 3


def test_repo_has_no_dash_help_dataset():
    # The committed junk itself must stay gone.
    assert not (Path(__file__).resolve().parent.parent / "--help").exists()
