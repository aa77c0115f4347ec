"""Workloads, probes and input generators of the repository benchmark.

Everything here runs inside the worker process that ``perfbench/run.py``
spawns for one run; see that file for the command-line contract.
"""
