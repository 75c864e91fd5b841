"""Single-core, driver-side timings of the kernel and codec functions.

The kernel probe walks one fixed seeded batch of documents through the
same public steps the ALG rollup kernel takes per document and tier
(``token_checksum``, ``make_buffer``, ``states_from_windows``,
``merge_groups``, ``finalize``, ``iqr_hazen_2d``). It records the time
in each function and how often each is called, which splits kernel
time into per-call overhead and arithmetic. The codec probe encodes
and decodes the feature columns those tier blocks produce, one block
per (document, tier), exactly as the compressed store does.
"""

from __future__ import annotations

import time

import numpy as np

import inputs
from common import FEATURES, GROUP, LAGS, N_TIERS, WINDOW

PROBE_DOCS = 256


def kernel_probe(seed: int) -> tuple[dict, list[dict]]:
    from pyhctsa_spark.functions import kernels as K
    from pyhctsa_spark.functions import stats_state as S
    from pyhctsa_spark.sources.synthetic import token_checksum

    batch = inputs.make_sequences(seed, PROBE_DOCS)
    pc = time.perf_counter
    t = dict.fromkeys(
        ("make_buffer", "states_from_windows", "merge_groups", "finalize",
         "iqr_hazen", "token_checksum"), 0.0)
    blocks, merge_calls, points = [], 0, 0
    t_all = pc()
    for toks in batch["tokens"]:
        t0 = pc(); token_checksum(toks); t["token_checksum"] += pc() - t0
        vals = toks.astype(np.float64)
        points += len(vals)
        if len(vals) < WINDOW:
            continue
        t0 = pc(); Y = K.make_buffer(vals, WINDOW); t["make_buffer"] += pc() - t0
        t0 = pc(); state = S.states_from_windows(Y, LAGS); t["states_from_windows"] += pc() - t0
        for tier in range(N_TIERS):
            if tier:
                if len(state["n"]) >= GROUP:
                    merge_calls += GROUP - 1  # merge_pair calls per merge_groups
                t0 = pc(); state = S.merge_groups(state, GROUP, LAGS); t["merge_groups"] += pc() - t0
                if len(state["n"]) == 0:
                    break
                t0 = pc(); Y = K.make_buffer(vals, WINDOW * GROUP**tier); t["make_buffer"] += pc() - t0
            t0 = pc(); fin = S.finalize(state, LAGS); t["finalize"] += pc() - t0
            t0 = pc(); iqr = K.iqr_hazen_2d(Y); t["iqr_hazen"] += pc() - t0
            fin["spread_iqr"] = iqr
            blocks.append({f: np.asarray(fin[f], dtype=np.float64) for f in FEATURES})
    wall = pc() - t_all
    out = {f"kernel.{k}_s": v for k, v in t.items()}
    out.update({
        "kernel.tier_blocks": len(blocks),
        "kernel.merge_calls": merge_calls,
        "kernel.points_per_core_s": points / wall,
    })
    return out, blocks


def codec_probe(blocks: list[dict]) -> tuple[dict, bool]:
    """Gorilla encode and decode rates over the probe's feature columns;
    the bool says whether every block round-tripped bit for bit."""
    from pyhctsa_spark.functions.codec import gorilla_decode, gorilla_encode

    cols = [b[f] for b in blocks for f in FEATURES]
    n_values = sum(len(c) for c in cols)
    t0 = time.perf_counter()
    blobs = [gorilla_encode(c) for c in cols]
    t_enc = time.perf_counter() - t0
    t0 = time.perf_counter()
    back = [gorilla_decode(b) for b in blobs]
    t_dec = time.perf_counter() - t0
    exact = all(
        np.array_equal(c.view(np.uint64), d.view(np.uint64))
        for c, d in zip(cols, back)
    )
    return {
        "codec.gorilla_encode_values_per_s": n_values / t_enc,
        "codec.gorilla_decode_values_per_s": n_values / t_dec,
    }, exact
