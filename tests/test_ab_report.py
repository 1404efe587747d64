"""tools/ab.py reads a run's metrics from its JSON line and from the
``name value unit`` report lines printed before it. Standard library
only: the tool is loaded from its file, no Spark starts."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import sys

AB = pathlib.Path(__file__).resolve().parent.parent / "tools" / "ab.py"


def _ab():
    spec = importlib.util.spec_from_file_location("ab", AB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


STDOUT = """\
workload=ingest seed=11 seconds=9.0 trace=0
  host.calibration_start_s                 0.412345 s
  wave_p50_s                                1.71234 s
  merge_p50_s                                  1.09 s
  ops_sampled                                     5 count
  error_rate                                      0 ratio
  host.calibration_end_s                   0.431234 s
  latency_s                                  1.6761 s
  note                                        fast s
  three words only here
""" + json.dumps({
    "correct": True, "failed": 0,
    "metrics": {"latency_s": {"value": 1.676, "unit": "s"}},
})


def test_report_lines_add_what_the_json_lacks():
    ab = _ab()
    lines = STDOUT.splitlines()
    known = ab.flatten(json.loads(lines[-1]))
    got = ab.report_lines(lines[:-1], known)
    assert got == {
        "host.calibration_start_s": 0.412345,
        "wave_p50_s": 1.71234,
        "merge_p50_s": 1.09,
        "ops_sampled": 5.0,
        "error_rate": 0.0,
        "host.calibration_end_s": 0.431234,
    }
    # the JSON's own reading wins: the report line repeats
    # metrics.latency_s and is left out
    assert known["metrics.latency_s"] == 1.676


def test_run_merges_both(tmp_path):
    ab = _ab()
    script = tmp_path / "cmd.py"
    script.write_text(f"print({STDOUT!r})\n")
    got = ab.run([sys.executable, str(script)], str(tmp_path), 0, "A")
    assert got["host.calibration_end_s"] == 0.431234
    assert got["metrics.latency_s"] == 1.676
    assert "latency_s" not in got
