"""``tools/dump_plans.normalise``: pure string rewriting, no Spark."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "dump_plans.py"
)
_spec = importlib.util.spec_from_file_location("dump_plans", _PATH)
dump_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(dump_plans)


def test_normalise_rewrites_every_session_counter():
    plan = (
        "Generate explode(transform(__c1v#312, lambdafunction(struct(d2r, "
        "round(aggregate(zip_with(q_vec#317, lambda x_2#323, "
        "lambdafunction(((lambda x_4#325 - lambda y_5#326)), "
        "lambda x_4#325, lambda y_5#326, false)), 0.0, "
        "lambdafunction((lambda acc_6#327 + lambda d_7#328), "
        "lambda acc_6#327, lambda d_7#328, false)), 6)), lambda x_2#323, "
        "lambda i_3#324, false)), lambda id#4, lambda left_10#5)) "
        "[plan_id=927] MapPartitionsRDD[41]"
    )
    assert dump_plans.normalise(plan) == (
        "Generate explode(transform(__c1v#N, lambdafunction(struct(d2r, "
        "round(aggregate(zip_with(q_vec#N, lambda x_N#N, "
        "lambdafunction(((lambda x_N#N - lambda y_N#N)), "
        "lambda x_N#N, lambda y_N#N, false)), 0.0, "
        "lambdafunction((lambda acc_N#N + lambda d_N#N), "
        "lambda acc_N#N, lambda d_N#N, false)), 6)), lambda x_N#N, "
        "lambda i_N#N, false)), lambda id#N, lambda left_N#N)) "
        "[plan_id=N] MapPartitionsRDD[N]"
    )


def test_normalise_makes_counter_shifted_plans_equal():
    # the same plan built after two extra lambdas earlier in a session
    a = "Project [aggregate(zip_with(v#1, c#2, lambdafunction((lambda x_8#9 - lambda y_9#10)"
    b = "Project [aggregate(zip_with(v#5, c#6, lambdafunction((lambda x_10#11 - lambda y_11#12)"
    assert a != b
    assert dump_plans.normalise(a) == dump_plans.normalise(b)
    # names that merely end in digits outside a lambda are left alone
    assert dump_plans.normalise("col_12#3") == "col_12#N"
