#!/usr/bin/env python3
"""FOLLOWS lineage curve: plan size and latency over consecutive follows.

Usage (from the repository root):
    python3 perfbench/follows_curve.py [--seed N] [--follows K]

Uses the interactive workload's inputs and launcher. Latency doubles with
each follow, so K above about 12 takes minutes.
"""
import argparse
import subprocess
import sys

import run

ap = argparse.ArgumentParser()
ap.add_argument("--seed", type=int, default=1)
ap.add_argument("--follows", type=int, default=10)
a = ap.parse_args()
cp = run.build()
data = run.inputs("interactive", a.seed)
sys.exit(subprocess.run(run.java_cmd(cp) + ["graftbench.FollowsCurve", str(data),
                                            str(a.follows)], cwd=run.WORK).returncode)
