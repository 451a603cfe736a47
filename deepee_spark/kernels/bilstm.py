"""M2-analogue argument-role kernel: BiLSTM encoder + bilinear role scorer.

North-star framing: BiLSTM-CRF-style role labeling; the reference's
closest decode is per-token argmax (EEGCN main.py:93-100) and
trigger-x-entity pair classification (JMEE ee.py:150-176). We encode the
sentence with a (simplified, gateless) bidirectional recurrent layer
h_t = tanh(W x_t + U h_{t-1} + b), build a per-position pair feature from
[h_fwd; h_bwd], and score roles with a bilinear form against the event
type: logits[r] = onehot(ev)^T A[r] f(h_arg). Argmax decode (== Viterbi
under uniform transitions). All batched NumPy.
"""

from __future__ import annotations

import numpy as np

from .weights import HIDDEN, argument_weights, embedding_table


def encode(
    ids: np.ndarray,
    lengths: np.ndarray,
    type_multihot: np.ndarray | None = None,
) -> np.ndarray:
    """ids (B, L) -> bidirectional states (B, L, 2*HIDDEN).

    M10: type_multihot (B, L, N_ENT), when given, is the per-token
    entity-type MULTI-hot built from (possibly overlapping) mention
    spans; its scaled embedding is SUMMED into the token embedding's
    entity block — MOGANED utils.py:117-145 / JMEE EmbeddingLayer
    semantics, where a token covered by several mentions receives the
    sum of all their type embeddings. A single-label multihot is exactly
    the gazetteer word's own embedding wiring (EMB_SCALE one-hot), which
    the parity test pins."""
    from .weights import EMB_SCALE, NUM_EVENT_CLASSES

    emb = embedding_table()
    w = argument_weights()
    B, L = ids.shape
    x = emb[ids]  # (B, L, D)
    if type_multihot is not None:
        x = x.copy()
        x[:, :, NUM_EVENT_CLASSES:] += (
            EMB_SCALE * type_multihot.astype(np.float32)
        )
    proj = x @ w["w_ih"] + w["b_h"]  # (B, L, H)

    fwd = np.zeros((B, L, HIDDEN), dtype=np.float32)
    h = np.zeros((B, HIDDEN), dtype=np.float32)
    for t in range(L):
        h = np.tanh(proj[:, t] + h @ w["u_hh"])
        fwd[:, t] = h
    bwd = np.zeros((B, L, HIDDEN), dtype=np.float32)
    h = np.zeros((B, HIDDEN), dtype=np.float32)
    for t in range(L - 1, -1, -1):
        h = np.tanh(proj[:, t] + h @ w["u_hh"])
        bwd[:, t] = h
    valid = (np.arange(L)[None, :] < lengths[:, None])[:, :, None]
    return np.where(valid, np.concatenate([fwd, bwd], axis=2), 0.0)


def score_roles(
    ids: np.ndarray,
    lengths: np.ndarray,
    event_ids: np.ndarray,
    arg_pos: np.ndarray,
    type_multihot: np.ndarray | None = None,
) -> np.ndarray:
    """Per (sentence row, its arg candidate): role logits (B, R).

    ids (B,L), event_ids (B,), arg_pos (B,) -> logits (B, NUM_ROLE_CLASSES).
    type_multihot: optional M10 per-token multi-hot (see encode).
    """
    w = argument_weights()
    states = encode(ids, lengths, type_multihot)  # (B, L, 2H)
    b = np.arange(ids.shape[0])
    h_arg = states[b, arg_pos]  # (B, 2H)
    feat = h_arg @ w["w_feat"]  # (B, N_ENT)
    # bilinear: logits[b, r] = A[r, ev_b, :] . feat[b, :]
    a_ev = w["a"][:, event_ids, :]  # (R, B, N_ENT)
    return np.einsum("rbe,be->br", a_ev, feat).astype(np.float32)


def decode_roles(ids, lengths, event_ids, arg_pos, type_multihot=None):
    """-> (role_ids (B,), scores (B,)) via softmax-argmax."""
    logits = score_roles(ids, lengths, event_ids, arg_pos, type_multihot)
    logits = logits - logits.max(axis=1, keepdims=True)
    np.exp(logits, out=logits)
    probs = logits / logits.sum(axis=1, keepdims=True)
    role = probs.argmax(axis=1)
    return role, probs[np.arange(len(role)), role]


# ---------------------------------------------------------------------------
# CRF-style sequence decode (north-star "BiLSTM-CRF" wording; the reference's
# own decode is per-token argmax, EEGCN main.py:93-100 — Viterbi with uniform
# transitions reduces to exactly that, which the tests assert).
# ---------------------------------------------------------------------------

def viterbi_decode(emissions: np.ndarray, transitions: np.ndarray) -> np.ndarray:
    """Batched first-order Viterbi.

    emissions (B, L, C) log-scores, transitions (C, C) log-transition
    [from, to] -> best label paths (B, L) int64. Vectorized over the batch;
    the L loop is inherent to the recurrence.
    """
    B, L, C = emissions.shape
    score = emissions[:, 0].copy()           # (B, C)
    back = np.zeros((B, L, C), dtype=np.int64)
    for t in range(1, L):
        # cand[b, i, j] = score[b, i] + transitions[i, j]
        cand = score[:, :, None] + transitions[None, :, :]
        back[:, t] = cand.argmax(axis=1)
        score = cand.max(axis=1) + emissions[:, t]
    path = np.zeros((B, L), dtype=np.int64)
    path[:, -1] = score.argmax(axis=1)
    for t in range(L - 1, 0, -1):
        path[:, t - 1] = back[np.arange(B), t, path[:, t]]
    return path

