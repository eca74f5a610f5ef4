"""tools/plan_rotation.py: the staleness verdict on the committed
registry, and the front-load it proposes when the bound is broken."""

import importlib.util
import json
import os

import __spark_entry__ as E

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan_rotation():
    spec = importlib.util.spec_from_file_location(
        "plan_rotation", os.path.join(REPO, "tools", "plan_rotation.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_committed_registry_within_bound(capsys):
    assert _plan_rotation().main([]) == 0
    assert "VIOLATION" not in capsys.readouterr().out


def test_violation_prints_cost_ordered_front_load(monkeypatch, capsys):
    pr = _plan_rotation()
    rounds = pr.load_rounds()
    recent = {n for r in sorted(rounds)[-2:]
              for n, row in rounds[r].items() if pr.green(row)}
    times = json.load(open(os.path.join(REPO, "BENCH", "gate_times.json"))
                      )["spark_secs"]
    qs = E.queries()
    # recently verified entries first, the rest cheapest first: every
    # entry past the window is stale, in the opposite of the order the
    # proposal must give
    fresh = [n for n in qs if n in recent]
    stale = sorted((n for n in qs if n not in recent),
                   key=lambda n: times.get(n, 0.0))
    window = len(fresh)
    assert stale
    monkeypatch.setattr(E, "queries",
                        lambda: {n: qs[n] for n in fresh + stale})

    assert pr.main(["--window", str(window)]) == 1
    out = capsys.readouterr().out
    assert "VIOLATION" in out and "proposed front-load" in out
    listed = [line.split()[0] for line in out.splitlines()
              if line.startswith("  ")]
    assert sorted(listed) == sorted(stale)
    costs = [times.get(n, 0.0) for n in listed]
    assert costs == sorted(costs, reverse=True)
