"""Unit tests for the profiling scripts' pure helpers."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_script(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_job_profile_parses_rest_times_with_and_without_millis():
    # the UI REST API drops the fraction when the milliseconds are zero
    parse_ts = _load_script("job_profile").parse_ts
    whole = parse_ts("2026-08-18T05:10:11GMT")
    assert parse_ts("2026-08-18T05:10:11.000GMT") == whole
    assert abs(parse_ts("2026-08-18T05:10:11.250GMT") - whole - 0.25) < 1e-6
