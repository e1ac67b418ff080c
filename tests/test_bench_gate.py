"""The bench regression rule as an EXECUTABLE gate (VERDICT r9 #3):
`bench.py --against <baseline>` must exit nonzero on any query breaching
the written signal rule — >0.5 s absolute, or >25% on a >=1 s baseline.
The rule function is pure, so the planted-regression proof runs here
without a 20-minute bench."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench


class TestRegressionRule:
    def test_clean_when_within_rule(self):
        old = {"q1": 0.1, "q2": 2.0, "q3": 5.0}
        new = {"q1": 0.55, "q2": 2.4, "q3": 5.4}  # +0.45s / +20% / +8%
        assert bench._regression_check(new, old) == []

    def test_absolute_breach(self):
        out = bench._regression_check({"q1": 0.9}, {"q1": 0.2})
        assert len(out) == 1 and "absolute" in out[0]

    def test_relative_breach_only_on_1s_plus(self):
        # +30% on a 1.2s query breaches; +30% on a 0.6s query does not
        # (0.18s absolute, inside scheduler noise)
        assert bench._regression_check({"q1": 1.56}, {"q1": 1.2})
        assert bench._regression_check({"q1": 0.78}, {"q1": 0.6}) == []

    def test_rotation_is_not_a_regression(self):
        assert bench._regression_check({"new_q": 9.9}, {"old_q": 0.1}) == []

    def test_breach_is_kept_only_if_its_remeasurement_holds(self):
        """A first-look breach is re-measured CONFIRM_RUNS times: one
        that re-measures clean (a noisy window) is dropped, one that
        holds stays; a query that never breached is not re-run."""
        old = {"noisy": 0.2, "real": 0.2, "fine": 0.2}
        new = {"noisy": 0.9, "real": 0.9, "fine": 0.3}
        samples = {"noisy": [0.95, 0.22, 0.8], "real": [0.9, 0.85, 0.88]}
        calls = []

        def rerun(name):
            calls.append(name)
            return samples[name][calls.count(name) - 1]

        first, confirmed = bench._confirm_breaches(new, old, rerun)
        assert [b.split(":")[0] for b in first] == ["noisy", "real"]
        assert [b.split(":")[0] for b in confirmed] == ["real"]
        assert "0.850s" in confirmed[0]  # the min over every sample
        assert sorted(calls) == ["noisy"] * bench.CONFIRM_RUNS \
            + ["real"] * bench.CONFIRM_RUNS

    def test_codegen_totals_sum_a_pass(self):
        recs = {
            "q1": {"codegen_compiles": 3, "codegen_s": 0.1234},
            "q2": {"codegen_compiles": 0, "codegen_s": 0.0},
        }
        assert bench._codegen_totals(recs) == {"compiles": 3, "s": 0.123}

    def test_load_baseline_full_and_driver_shapes(self, tmp_path):
        full = tmp_path / "full.json"
        full.write_text(json.dumps({"queries": {"q1": 1.0}}))
        assert bench._load_baseline(str(full)) == ({"q1": 1.0}, None)
        stdout_line = json.dumps({"metric": "m", "queries": {"q2": 2.0}})
        driver = tmp_path / "BENCH_rX.json"
        driver.write_text(json.dumps(
            {"tail": f"# noise\n{stdout_line}\n", "rc": 0}
        ))
        assert bench._load_baseline(str(driver)) == ({"q2": 2.0}, None)

    def test_load_baseline_head_reads_committed_copy(self, tmp_path):
        """`--against HEAD` must read the COMMITTED bench_results.json,
        not the working copy a run is about to overwrite."""
        import subprocess

        repo = tmp_path / "r"
        repo.mkdir()
        subprocess.run(["git", "init", "-q"], cwd=repo, check=True)
        (repo / "bench_results.json").write_text(
            json.dumps({"queries": {"q1": 1.0}})
        )
        env = dict(
            os.environ,
            GIT_AUTHOR_NAME="t", GIT_AUTHOR_EMAIL="t@t",
            GIT_COMMITTER_NAME="t", GIT_COMMITTER_EMAIL="t@t",
        )
        subprocess.run(["git", "add", "."], cwd=repo, check=True, env=env)
        subprocess.run(["git", "commit", "-qm", "x"], cwd=repo,
                       check=True, env=env)
        # diverge the working copy — HEAD must still win
        (repo / "bench_results.json").write_text(
            json.dumps({"queries": {"q1": 99.0}})
        )
        prog = (
            "import json, subprocess, sys\n"
            "doc = json.loads(subprocess.run(\n"
            "  ['git', '-C', sys.argv[1], 'show',"
            " 'HEAD:bench_results.json'],\n"
            "  capture_output=True, text=True, check=True).stdout)\n"
            "assert doc['queries'] == {'q1': 1.0}, doc\n"
        )
        r = subprocess.run([sys.executable, "-c", prog, str(repo)])
        assert r.returncode == 0

    def test_auto_resolution_prefers_head_then_driver_artifact(self):
        """Bare runs auto-resolve a baseline (VERDICT r10 #4): in this
        repo the committed bench_results.json resolves with a full
        per-query dict, so every driver BENCH_r{N}.json records a gate
        verdict."""
        resolved = bench._resolve_baseline()
        assert resolved is not None
        label, qs, _bsf = resolved
        assert label == "HEAD:bench_results.json"
        assert len(qs) > 100  # full per-query dict, not the core subset

    def test_auto_resolution_falls_back_to_driver_rounds(
        self, tmp_path, monkeypatch
    ):
        """Outside a git checkout the highest-round BENCH_r{N}.json
        wins; with nothing available the result is None (gate records
        'no-baseline')."""
        import subprocess as _sp

        fake = tmp_path / "nb"
        fake.mkdir()
        real_abspath = os.path.abspath
        monkeypatch.setattr(
            bench.os.path, "abspath",
            lambda p: str(fake / "bench.py") if p.endswith("bench.py")
            else real_abspath(p),
        )
        # no git repo, no artifacts -> None
        monkeypatch.setattr(
            bench.os.path, "dirname",
            lambda p: str(fake) if "bench.py" in p
            else os.path.split(p)[0],
        )
        real_run = _sp.run
        monkeypatch.setattr(
            "subprocess.run",
            lambda *a, **k: (_ for _ in ()).throw(
                _sp.CalledProcessError(1, "git")
            ) if a and a[0] and a[0][0] == "git" else real_run(*a, **k),
        )
        assert bench._resolve_baseline() is None
        line = json.dumps(
            {"metric": "m", "queries": {"q9": 3.0}}
        )
        (fake / "BENCH_r3.json").write_text(
            json.dumps({"tail": f"# x\n{line}\n"})
        )
        (fake / "BENCH_r12.json").write_text(
            json.dumps({"tail": json.dumps(
                {"metric": "m", "queries": {"q9": 7.0}}
            ) + "\n"})
        )
        label, qs, _bsf = bench._resolve_baseline()
        assert label == "BENCH_r12.json" and qs == {"q9": 7.0}

    def test_gate_scope_drops_cross_sf_baseline(self, capsys):
        """An sf0.1 baseline must not gate an sf1 run — the gate records
        an explicit sf-mismatch instead of breaching on data size."""
        base = {"q1": 1.0}
        kept, reason = bench._gate_scope(base, 0.1, "HEAD", "/x/sf0.1")
        assert kept is base and reason == "no-baseline"
        dropped, reason = bench._gate_scope(
            base, 0.1, "HEAD", "/root/repo/.localdata/sf1"
        )
        assert dropped is None and "sf-mismatch" in reason
        assert "sf=0.1" in reason and "sf=1.0" in reason
        # unstamped baselines (pre-round-8 shapes) keep gating
        kept, _ = bench._gate_scope(base, None, "HEAD", "/x/sf1")
        assert kept is base
        # un-inferable run dir: gate rather than guess
        kept, _ = bench._gate_scope(base, 0.1, "HEAD", "/data/custom")
        assert kept is base

    def test_planted_regression_fails_make_bench_shape(self, tmp_path):
        """End-to-end exit-code proof with a stub bench run: a planted
        +1s regression against the baseline file exits 1 via the same
        code path `make bench` uses."""
        baseline = tmp_path / "base.json"
        baseline.write_text(json.dumps({"queries": {"q1": 0.2}}))
        prog = (
            "import sys, bench\n"
            "b, _sf = bench._load_baseline(sys.argv[1])\n"
            "br = bench._regression_check({'q1': 1.2}, b)\n"
            "sys.exit(1 if br else 0)\n"
        )
        r = subprocess.run(
            [sys.executable, "-c", prog, str(baseline)],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        assert r.returncode == 1
