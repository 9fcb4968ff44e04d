"""SRP band keys on vectors the synthetic worlds never produce."""

import pyspark.sql.functions as F

from pfaedle_spark.operators import simsearch


def test_srp_keys_null_or_ragged_vector_gets_null_key(spark):
    dim = simsearch.EMB_DIM
    good = [(-1) ** d * (d + 1) for d in range(dim)]
    df = spark.createDataFrame(
        [
            (1, good),
            (2, None),                      # null vector
            (3, good[:-1]),                 # ragged: one component short
            (4, good + [7]),                # ragged: one component long
            (5, good[:-1] + [None]),        # null component
        ],
        "vec_id long, qv array<long>",
    )
    keys = simsearch._srp_keys_np()(F.col("qv")).alias("keys")
    got = {r.vec_id: r.keys for r in df.select("vec_id", keys).collect()}
    alone = df.filter("vec_id = 1").select(keys).collect()[0].keys
    assert got[1] == alone and len(alone) == simsearch.SRP_BANDS
    assert got[2] is None
    assert got[3] is None
    assert got[4] is None
    assert got[5] is None
