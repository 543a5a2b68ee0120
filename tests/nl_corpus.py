"""The NL question corpus shared by the front-end memo test and the
template-tier reference battery: the pipeline eval questions plus
perfbench's question pools (``ASK_POOL``, ``ASK_PROBES`` and two seeded
draws of each ``_UNIQUE_SHAPES`` template)."""

from __future__ import annotations

import importlib.util
import os
import random
import sys

from tests.test_nl2sql_pipeline import EVAL_QUESTIONS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def perfbench_workload():
    """perfbench/workload.py (not a package), for its question pools."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_workload", os.path.join(ROOT, "perfbench", "workload.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve the module by name
    spec.loader.exec_module(mod)
    return mod


def corpus_questions() -> list[str]:
    wl = perfbench_workload()
    unique = []
    for i, (tpl, params) in enumerate(wl._UNIQUE_SHAPES):
        rng = random.Random(i)
        for _ in range(2):
            unique.append(tpl.format(**{k: wl._draw(rng, v) for k, v in params.items()}))
    return (EVAL_QUESTIONS + [q for q, _gold in wl.ASK_POOL] + wl.ASK_PROBES
            + unique)
