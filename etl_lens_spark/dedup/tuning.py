"""LSH parameter auto-tuner: pick (bands, rows) from a target
Jaccard threshold and a signature budget by evaluating the banding
S-curve P(s) = 1 − (1 − s^r)^b — the MMDS-textbook optimization
(Leskovec, Rajaraman & Ullman ch. 3; the same public algorithm the
datasketch library ships) instead of hand-picking knobs.

Closes the loop on the ``spark.etl_lens.minhash.*`` configuration
(config.py): given "collide pairs with Jaccard ≥ t" and "I can
afford k hash components", the tuner returns the banding that
minimizes the weighted false-positive/false-negative probability
mass around t, and ``lsh_collision_prob`` reports the curve so the
choice is auditable. Pure deterministic arithmetic — no data pass, no
RNG; at 100 TB the tune costs microseconds and decides the size of
the banded self-join, which is the whole cost of MinHash-LSH dedup.
"""

from __future__ import annotations

_QUAD_STEPS = 500  # midpoint-rule resolution over [0, 1]


def lsh_collision_prob(s: float, r: int, b: int) -> float:
    """P(candidate | Jaccard = s) for b bands of r rows."""
    return 1.0 - (1.0 - s**r) ** b


def _error_mass(
    threshold: float, r: int, b: int, fp_weight: float, fn_weight: float
) -> float:
    """Weighted area of the two error lobes of the S-curve:
    false positives ∫₀ᵗ P(s) ds + false negatives ∫ₜ¹ (1−P(s)) ds,
    midpoint quadrature."""
    fp = fn = 0.0
    step = 1.0 / _QUAD_STEPS
    for i in range(_QUAD_STEPS):
        s = (i + 0.5) * step
        p = lsh_collision_prob(s, r, b)
        if s < threshold:
            fp += p * step
        else:
            fn += (1.0 - p) * step
    return fp_weight * fp + fn_weight * fn


def tune_lsh_params(
    threshold: float,
    num_hashes: int,
    fp_weight: float = 1.0,
    fn_weight: float = 1.0,
) -> tuple[int, int]:
    """Best (bands, rows) with bands*rows == num_hashes (every exact
    factorization is considered) minimizing the weighted error mass
    around ``threshold``. Ties break toward more bands (higher
    recall), matching the curation default of never silently losing
    near-duplicates. Raise ``fp_weight`` to penalize the candidate-
    verification cost instead."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    if num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")
    best: tuple[float, int, int] | None = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        err = _error_mass(threshold, r, b, fp_weight, fn_weight)
        key = (err, -b)  # tie → more bands
        if best is None or key < (best[0], -best[1]):
            best = (err, b, r)
    assert best is not None
    return best[1], best[2]
