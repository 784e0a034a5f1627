"""Closed-loop benchmark of the conflation and near-duplicate query paths.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
