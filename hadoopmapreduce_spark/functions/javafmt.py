"""Java ``Float.toString``-compatible rendering, the reference for tests.

The reference emits the final CTR through 32-bit float ``Float.toString``
(``ClickThru.java:179-186``).  The CLI renders it with Spark's native
``cast(cast(ctr AS float) AS string)``; ``java_float32_repr`` is the
independent Python statement of Java's rule (Float.toString javadoc) that
tests hold the cast to:

* ``NaN`` -> ``"NaN"``; infinities -> ``"Infinity"`` / ``"-Infinity"``;
  zeros keep their sign (``"0.0"`` / ``"-0.0"``).
* if ``1e-3 <= |v| < 1e7``: plain decimal form with the shortest digit
  string that round-trips the float32 (always >= 1 fractional digit).
* otherwise: computerized scientific notation ``d.dddE<n>`` — uppercase
  ``E``, no ``+`` on positive exponents (``"1.0E-4"``, ``"1.0E8"``).

``str(np.float32(x))`` gets the shortest digits right but not the form:
numpy renders ``0.0001`` as ``"1e-04"`` where Java emits ``"1.0E-4"``.  We
take numpy's shortest-round-trip digits (``np.format_float_scientific(...,
unique=True)`` — same shortest-repr contract as JDK >= 19's Ryu-based
``Float.toString``) and re-assemble the form per the Java rule.
"""

from __future__ import annotations

import numpy as np


def java_float32_repr(x: float) -> str:
    """Render ``x`` exactly as Java's ``Float.toString((float) x)``."""
    f = np.float32(x)
    if np.isnan(f):
        return "NaN"
    if np.isinf(f):
        return "Infinity" if f > 0 else "-Infinity"
    if f == 0.0:
        return "-0.0" if np.signbit(f) else "0.0"
    sci = np.format_float_scientific(f, unique=True)
    mant, _, exp_s = sci.partition("e")
    exp = int(exp_s)
    sign = "-" if mant.startswith("-") else ""
    digits = mant.lstrip("-").replace(".", "")
    if exp >= 7 or exp <= -4:  # |v| >= 1e7 or < 1e-3: scientific form
        frac = digits[1:] or "0"
        return f"{sign}{digits[0]}.{frac}E{exp}"
    if exp >= len(digits) - 1:  # integral: pad with zeros, ".0" tail
        return f"{sign}{digits}{'0' * (exp - len(digits) + 1)}.0"
    if exp >= 0:
        return f"{sign}{digits[: exp + 1]}.{digits[exp + 1:]}"
    return f"{sign}0.{'0' * (-exp - 1)}{digits}"

