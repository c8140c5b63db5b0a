"""Single-command benchmark for the engine: ``python3 perfbench/run.py``.

Two closed-loop workloads (``score``, ``refresh``) drive the public
functions of ``engine/`` from outside the program; every result is checked
against an independent numpy/networkx oracle. See ``run.py``.
"""
