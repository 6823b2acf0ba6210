"""Pure column-expression text functions (JVM-side, whole-stage codegen).

Scalar-function parity with the reference (SURVEY.md §2.7) — no Python here:
every function returns a Column built from pyspark.sql.functions, so it stays
inside Tungsten codegen on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import config


def normalizar_texto(col: Column) -> Column:
    """Lowercase + accent fold — reference database/schema_matching.sql:418-428."""
    return F.translate(F.lower(col), config.ACCENT_SRC.lower(), config.ACCENT_DST.lower())


def digits_only(col: Column) -> Column:
    """Strip all non-digits (CI / matricula cleanup) —
    reference src/services/validation.service.js:57-71."""
    return F.regexp_replace(col, r"[^0-9]", "")


def matricula_valida(col: Column) -> Column:
    """4-8 digits after strip — reference src/services/validation.service.js:158-162."""
    ln = F.length(digits_only(col))
    return col.isNotNull() & ln.between(config.MATRICULA_MIN_LEN, config.MATRICULA_MAX_LEN)


def id_type(col: Column) -> Column:
    """len 7-8 -> DNI, >10 -> afiliado — reference src/services/validation.service.js:74-82."""
    ln = F.length(col)
    return (
        F.when(ln.isin(7, 8), F.lit("DNI"))
        .when(ln > 10, F.lit("afiliado"))
        .otherwise(F.lit("desconocido"))
    )


def cost_usd(prompt_tokens: Column, completion_tokens: Column) -> Column:
    """Token cost model — reference src/services/ai.service.js:178-195."""
    return F.round(prompt_tokens / 1000 * 0.005 + completion_tokens / 1000 * 0.015, 6)


def hmac_sha256(message: Column, secret: str) -> Column:
    """Real RFC-2104 HMAC-SHA256 (hex), pure JVM-side — reference
    src/services/webhook.service.js:63,116 (crypto.createHmac parity).

    HMAC(K, m) = SHA256((K' ^ opad) || SHA256((K' ^ ipad) || m)); the padded
    key XORs are constants, so they are computed driver-side and shipped as
    binary literals — no UDF, stays inside whole-stage codegen via
    sha2/unhex/concat.
    """
    key = secret.encode("utf-8")
    if len(key) > 64:
        import hashlib

        key = hashlib.sha256(key).digest()
    key = key.ljust(64, b"\x00")
    ipad = bytes(b ^ 0x36 for b in key)
    opad = bytes(b ^ 0x5C for b in key)
    inner_hex = F.sha2(F.concat(F.lit(ipad), message.cast("binary")), 256)
    return F.sha2(F.concat(F.lit(opad), F.unhex(inner_hex)), 256)
