"""The pipeline scale smoke (tools/scalesmoke.py) at a small corpus.

The 1.5M-doc run is too slow for the suite, so this runs the same phases
at 1,500 docs and checks the planted expectations that make its figures
meaningful: every planted gate failure is gated, every eval twin that
passes the gate is flagged, both dropping trickles pack nothing, the
fresh trickle packs one doc per near-dup family, and packed offsets stay
contiguous per shard.
"""

import math
import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools"),
)

N_DOCS = 1_500


def test_pipeline_smoke_planted_expectations(spark):
    from scalesmoke import run

    out = run(spark, N_DOCS)
    standing = out["standing_ingest"]
    # every 97th doc is a planted gate failure, and nothing else fails
    assert standing["gated_out"] == math.ceil(N_DOCS / 97)
    # eval twins 0..n_eval-1 minus the gated ones (doc 0 among them)
    n_twins = standing["planted_eval_twins"]
    assert standing["contaminated"] >= n_twins - math.ceil(n_twins / 97)
    assert standing["dup_pairs"] > 0
    assert out["batch_1pct"]["packed_delta"] > 0
    assert out["trickle_dedup_drop"]["packed_delta"] == 0
    assert out["trickle_decon_drop"]["packed_delta"] == 0
    # fresh docs 0, 1, 2: 0 and 1 are one near-dup family
    assert out["trickle_fresh_pack"]["packed_delta"] == 2
    assert out["sanity"]["offset_gaps"] == 0
    assert out["sanity"]["packed"] == (
        standing["packed"] + out["batch_1pct"]["packed_delta"] + 2
    )
