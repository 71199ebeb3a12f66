"""scripts/explain_dump.py: the placeholders for volatile plan text."""

from scripts.explain_dump import normalise


def test_lambda_variable_numbers_are_normalised():
    # PySpark numbers lambda variables from one process-wide counter, so
    # one plan built after a different set of plans prints another number
    assert normalise("lambda x_1141#12") == normalise("lambda x_1152#7")
