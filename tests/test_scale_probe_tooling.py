"""Unit tests for the scale-probe tooling's artifact durability and
refusal-eligibility rules (VERDICT r10 item 5 + ADVICE r10): the probe
must survive a mid-point kill with every completed component's fields on
disk, and a plateau-truncated ladder must not emit a certified refusal
the unmeasured rungs could falsify. Pure-python — no Spark session."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "scale_probe", Path(__file__).resolve().parent.parent / "tools" / "scale_probe.py"
)
SP = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(SP)


class TestIncrementalFlush:
    def test_mid_point_kill_keeps_prior_components(self, tmp_path):
        """Simulated OOM between components: after component 1 flushes,
        the artifact on disk already carries its fields and a ledger
        naming ONLY it — a kill before component 2 loses nothing and
        claims nothing it lacks (the 200x merge-note failure mode)."""
        out = tmp_path / "probe.json"
        result = {"ts": "2026-08-16T00:00:00+00:00", "base": "b", "points": []}
        point = {"factor": 200, "components_run": []}
        point["prefix_secs"] = 43.3
        SP._flush_point(out, result, point, "docs", append=False)
        # <- simulated kill here: only what's on disk survives
        data = json.loads(out.read_text())
        assert data["points"] == [
            {"factor": 200, "components_run": ["docs"], "prefix_secs": 43.3}
        ]
        # component 2 later completes and merges in
        point["unimax_langs"] = 5
        SP._flush_point(out, result, point, "mix", append=False)
        data = json.loads(out.read_text())
        assert data["points"][0]["components_run"] == ["docs", "mix"]
        assert data["points"][0]["prefix_secs"] == 43.3
        assert data["points"][0]["unimax_langs"] == 5

    def test_flush_without_component_keeps_ledger(self, tmp_path):
        """flush(None) — per-rung progress — writes fields but does NOT
        mark any component complete."""
        out = tmp_path / "probe.json"
        result = {"ts": "t", "base": "b", "points": []}
        point = {"factor": 300, "components_run": [], "ivfadc_curve": [1]}
        SP._flush_point(out, result, point, None, append=False)
        data = json.loads(out.read_text())
        assert data["points"][0]["components_run"] == []
        assert data["points"][0]["ivfadc_curve"] == [1]

    def test_append_merges_by_factor_and_unions_ledger(self, tmp_path):
        """--append semantics under repeated flushing: idempotent field
        update, per-factor merge, components_run unioned — and points
        from OTHER factors in the prior artifact untouched."""
        out = tmp_path / "probe.json"
        out.write_text(
            json.dumps(
                {
                    "ts": "old",
                    "points": [
                        {"factor": 100, "components_run": ["docs"], "x": 1},
                        {"factor": 200, "components_run": ["docs"], "y": 2},
                    ],
                }
            )
        )
        result = {"ts": "new", "base": "b", "points": []}
        point = {"factor": 200, "components_run": [], "z": 3}
        SP._flush_point(out, result, point, "mix", append=True)
        SP._flush_point(out, result, point, "mix", append=True)  # idempotent
        data = json.loads(out.read_text())
        assert data["ts"] == "new"
        by_f = {p["factor"]: p for p in data["points"]}
        assert by_f[100] == {"factor": 100, "components_run": ["docs"], "x": 1}
        assert by_f[200]["components_run"] == ["docs", "mix"]
        assert by_f[200]["y"] == 2 and by_f[200]["z"] == 3

    def test_write_is_atomic_no_temp_left(self, tmp_path):
        out = tmp_path / "probe.json"
        SP._write_artifact(out, {"ts": "t", "points": []}, append=False)
        leftovers = [p for p in tmp_path.iterdir() if p.name != "probe.json"]
        assert leftovers == []


class TestLadderRefusalDecision:
    FLOOR = 8500

    def test_fully_measured_saturated_ladder_refuses(self):
        curve = [{"recall_x10k": r} for r in (5200, 7700, 8290, 8310)]
        verdict, proj = SP._ladder_refusal_decision(curve, 0, self.FLOOR)
        assert verdict == "refused"
        assert proj == 8310

    def test_plateau_with_reachable_floor_does_not_refuse(self):
        """ADVICE r10's exact scenario: a ladder just under the floor
        gaining ~99/rung is plateau-stopped — with rungs remaining whose
        optimistic projection clears 8500, refusal must NOT be emitted."""
        curve = [{"recall_x10k": r} for r in (8113, 8212, 8310, 8405)]
        verdict, proj = SP._ladder_refusal_decision(curve, 4, self.FLOOR)
        assert verdict == "plateau_only"
        assert proj == 8405 + 99 * 4

    def test_plateau_with_unreachable_floor_refuses(self):
        """Deep-plateau shape (the measured 200x flat m=16 ladder):
        gains have collapsed to <=20/rung far below the floor — even
        optimistically the remaining rungs cannot clear, so the refusal
        IS certified without measuring them."""
        curve = [{"recall_x10k": r} for r in (8250, 8290, 8310, 8315)]
        verdict, proj = SP._ladder_refusal_decision(curve, 3, self.FLOOR)
        assert verdict == "refused"
        assert proj == 8315 + 40 * 3 < self.FLOOR

    def test_negative_gains_clamped(self):
        """A noisy down-tick must not project negative growth."""
        curve = [{"recall_x10k": r} for r in (8300, 8250)]
        verdict, proj = SP._ladder_refusal_decision(curve, 5, self.FLOOR)
        assert verdict == "refused"
        assert proj == 8300


_PQ_SPEC = importlib.util.spec_from_file_location(
    "profile_query",
    Path(__file__).resolve().parent.parent / "tools" / "profile_query.py",
)
PQ = importlib.util.module_from_spec(_PQ_SPEC)
_PQ_SPEC.loader.exec_module(PQ)


class TestProfileEventLog:
    def test_blank_and_truncated_lines_are_skipped(self):
        """A blank line and a final line cut off mid-write (a killed or
        still-running application) must not crash the parser; every
        complete event around them is still attributed."""
        events = [
            {
                "Event": "SparkListenerJobStart", "Job ID": 0,
                "Submission Time": 100,
                "Properties": {"spark.job.description": "q_x#run0"},
                "Stage Infos": [{"Stage ID": 3}],
            },
            {
                "Event": "SparkListenerTaskEnd", "Stage ID": 3,
                "Task Metrics": {
                    "Executor Run Time": 40,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 512},
                },
            },
            {
                "Event": "SparkListenerStageCompleted",
                "Stage Info": {
                    "Stage ID": 3, "Stage Name": "collect at x.py:1",
                    "Submission Time": 100, "Completion Time": 160,
                    "Number of Tasks": 1,
                },
            },
        ]
        lines = [json.dumps(events[0]), "", json.dumps(events[1]), "   "]
        lines += [json.dumps(events[2]), json.dumps(events[1])[:25]]
        jobs, stages, stage_to_job = PQ.parse_event_log(lines)
        assert jobs == {0: {"desc": "q_x#run0", "t0": 100}}
        assert stage_to_job == {3: 0}
        assert stages[3]["wall_ms"] == 60
        assert stages[3]["run_ms"] == 40
        assert stages[3]["sh_write"] == 512
