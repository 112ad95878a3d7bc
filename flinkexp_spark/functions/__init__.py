"""Engine function library: text hashing/dedup primitives, vector math,
multimodal column helpers (SURVEY §2.3 X1–X5).

Everything here is expression-level (Catalyst ``Column`` builders) or thin
DataFrame combinators — no collect(), no driver-side loops — so every
operator composes into a single distributed plan.
"""

