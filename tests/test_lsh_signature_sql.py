"""``lsh_signature_sql`` with explicit plane weights: a non-finite
weight fails when the SQL is built, and finite weights give the same SQL
text as before the check (so no analytics plan moves)."""

import hashlib

import pytest

from river_spark.operators.similarity import lsh_signature_sql
from river_spark.queries.pipeline import _ANN_RECALL_PLANES, _ANN_RECALL_WEIGHTS


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_weight_raises_at_build(bad):
    with pytest.raises(ValueError):
        lsh_signature_sql("v", 2, [[1.0, bad], [0.5, -2.0]])


def test_finite_weights_sql_is_unchanged():
    # sha256 of the SQL text these calls built before non-finite weights
    # were rejected
    emb = lsh_signature_sql("embedding", _ANN_RECALL_PLANES, _ANN_RECALL_WEIGHTS)
    assert hashlib.sha256(emb.encode()).hexdigest() == (
        "72e4558942c7dfd730b4fde9b1fde8ab03797f828f21ba35a38117a5c010f9c9"
    )
    small = lsh_signature_sql("v", 3, [[0.5, -1.25], [1e-300, 2.0], [3, 4]])
    assert hashlib.sha256(small.encode()).hexdigest() == (
        "6ea6788221a9b8ff66578b8efafff3da9996198f5be1756f90d275501bf9491b"
    )
