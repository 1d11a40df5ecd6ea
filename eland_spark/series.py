"""Series — a named column expression over a frame's Spark plan.

Reference surface: eland/series.py (comparisons -> BooleanFilter,
arithmetic -> Painless script fields composing into one expression tree,
eland/arithmetics.py:89-204). Here both collapse into native Spark
``Column`` expressions — comparisons yield boolean Series usable as row
masks (``df[df.a > 10]``), arithmetic yields derived Series whose
expression Catalyst codegens JVM-side (no UDF, unlike the reference's
per-document script evaluation).
"""

from __future__ import annotations

import math
import re
from typing import TYPE_CHECKING, Any

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import Field, spark_to_pd_dtype

if TYPE_CHECKING:
    from .frame import DataFrame

__all__ = ["Series"]


def _lit(value: Any) -> Column:
    if isinstance(value, pd.Timestamp):
        return F.lit(value.to_pydatetime())
    return F.lit(value)


class Series:
    """Lazy 1-D view: (parent frame, column expression, name, spark type).

    Immutable; every op returns a new Series (the reference copies its
    QueryCompiler per op, eland/series.py + eland/query_compiler.py:373-374).
    """

    def __init__(
        self,
        frame: "DataFrame",
        expr: Column,
        name: str,
        spark_type: T.DataType | None = None,
        is_derived: bool = False,
    ):
        self._frame = frame
        self._expr = expr
        self._name = name
        self._spark_type = spark_type
        self._is_derived = is_derived

    # ------------------------------------------------------------------
    @property
    def name(self) -> str:
        return self._name

    @property
    def spark_column(self) -> Column:
        return self._expr

    @property
    def dtype(self):
        if self._spark_type is None:
            return "object"
        return pd.api.types.pandas_dtype(spark_to_pd_dtype(self._spark_type))

    @property
    def dtypes(self):
        """pandas alias: for a Series, ``dtypes`` is ``dtype``
        (reference eland/ndframe.py:113-139 exposes both)."""
        return self.dtype

    @property
    def es_dtypes(self) -> pd.Series:
        """Engine-side (Spark SQL) type, one entry (reference
        eland/ndframe.py:141-160 returns the ES mapping types)."""
        simple = (
            self._spark_type.simpleString() if self._spark_type is not None else "void"
        )
        return pd.Series({self._name: simple})

    @property
    def index(self):
        """Index abstraction of the parent frame (reference
        eland/index.py:24-92)."""
        return self._frame.index

    @property
    def shape(self) -> tuple[int]:
        return (len(self),)

    @property
    def size(self) -> int:
        return len(self)

    def __len__(self) -> int:
        return self._frame.shape[0]

    def __repr__(self) -> str:
        return f"<eland_spark.Series name={self._name!r} dtype={self.dtype}>"

    # -- derivation helpers --------------------------------------------
    def _derived(
        self, expr: Column, spark_type: T.DataType | None, name: str | None = None
    ) -> "Series":
        return Series(
            self._frame, expr, name or self._name, spark_type, is_derived=True
        )

    def _bool(self, expr: Column) -> "Series":
        return self._derived(expr, T.BooleanType())

    def _other(self, other: Any) -> Column:
        if isinstance(other, Series):
            if other._frame._sdf is not self._frame._sdf:
                # reference: check_arithmetics refuses cross-frame ops
                # (eland/query_compiler.py:716-753)
                raise ValueError(
                    "operations only supported between series of the same frame"
                )
            return other._expr
        return _lit(other)

    # -- comparisons (reference eland/series.py:473-595) ----------------
    # Comparisons stay BARE Spark predicates so Catalyst pushes them
    # into the parquet scan (a coalesce wrapper kills PushedFilters —
    # measured). Spark's null result behaves as False in a filter,
    # which is already pandas' answer; the one composition where
    # three-valued logic diverges is inversion, handled in __invert__.
    def __eq__(self, other):  # type: ignore[override]
        return self._bool(self._expr == self._other(other))

    def __ne__(self, other):  # type: ignore[override]
        # null-KEEPING, matching both pandas (NaN != x -> True) and the
        # reference's must_not-term compile (ES: docs missing the field
        # match a must_not; eland/series.py:541-552). A bare Spark !=
        # yields null for null inputs and silently drops those rows in
        # a filter — found by the composed-pipeline fuzzer.
        o = self._other(other)
        return self._bool(self._expr.isNull() | o.isNull() | (self._expr != o))

    def __gt__(self, other):
        return self._bool(self._expr > self._other(other))

    def __ge__(self, other):
        return self._bool(self._expr >= self._other(other))

    def __lt__(self, other):
        return self._bool(self._expr < self._other(other))

    def __le__(self, other):
        return self._bool(self._expr <= self._other(other))

    def isin(self, values) -> "Series":
        return self._bool(self._expr.isin(list(values)))

    def isna(self) -> "Series":
        return self._bool(self._expr.isNull())

    def notna(self) -> "Series":
        return self._bool(self._expr.isNotNull())

    isnull = isna
    notnull = notna

    def fillna(self, value) -> "Series":
        """Null-coalesced copy of the column (pandas surface; pure
        expression, shuffle-free)."""
        return self._derived(
            F.coalesce(self._expr, F.lit(value)), self._spark_type
        )

    def dropna(self) -> "Series":
        """Series restricted to non-null rows (filters the backing
        frame — the null check pushes down to the scan)."""
        filtered = self._frame._with(
            sdf=self._frame._sdf.filter(self._expr.isNotNull())
        )
        return Series(
            filtered, self._expr, self._name, self._spark_type,
            is_derived=getattr(self, "_is_derived", False),
        )

    # boolean combinators (reference eland/filter.py:27-93)
    def __and__(self, other):
        return self._bool(self._expr & self._other(other))

    def __or__(self, other):
        return self._bool(self._expr | self._other(other))

    def __invert__(self):
        # pandas two-valued inversion: a null comparison result reads
        # False BEFORE inverting, so ~(NaN > 3) keeps the row (Spark's
        # ~null would stay null and drop it). Matches the reference,
        # whose NotFilter compiles to must_not — null-keeping in ES.
        return self._bool(~F.coalesce(self._expr, F.lit(False)))

    __rand__ = __and__
    __ror__ = __or__

    # pattern predicates (reference eland/filter.py:136-151)
    def like(self, pattern: str) -> "Series":
        return self._bool(self._expr.like(pattern))

    def rlike(self, pattern: str) -> "Series":
        return self._bool(self._expr.rlike(pattern))

    def startswith(self, prefix: str) -> "Series":
        return self._bool(self._expr.startswith(prefix))

    # -- arithmetic (reference eland/series.py:827-1430,
    #    eland/arithmetics.py:132-165: + - * / // % ** and string
    #    concat / repeat with type gating) -----------------------------
    def _num_type(self, other: Any) -> T.DataType:
        if isinstance(self._spark_type, (T.DoubleType, T.FloatType)):
            return T.DoubleType()
        if isinstance(other, float):
            return T.DoubleType()
        if isinstance(other, Series) and isinstance(
            other._spark_type, (T.DoubleType, T.FloatType)
        ):
            return T.DoubleType()
        return T.LongType()

    def _check_str_op(self, other, op: str, allowed: str):
        """String type gate (reference eland/arithmetics.py:175-204):
        str+str concat and str*int repeat only; everything else TypeError."""
        is_str = isinstance(self._spark_type, T.StringType)
        other_str = isinstance(other, str) or (
            isinstance(other, Series) and isinstance(other._spark_type, T.StringType)
        )
        if is_str or other_str:
            ok = (
                (allowed == "concat" and is_str and other_str)
                or (
                    allowed == "repeat"
                    and is_str
                    and isinstance(other, int)
                )
            )
            if not ok:
                raise TypeError(
                    f"unsupported operand type(s) for {op}: "
                    f"{self.dtype!r} and {type(other).__name__!r}"
                )
            return True
        return False

    def __add__(self, other):
        if self._check_str_op(other, "+", "concat"):
            return self._derived(
                F.concat(self._expr, self._other(other)), T.StringType()
            )
        return self._derived(self._expr + self._other(other), self._num_type(other))

    def __radd__(self, other):
        if isinstance(other, str):
            if not isinstance(self._spark_type, T.StringType):
                raise TypeError("can only concatenate str to str column")
            return self._derived(F.concat(_lit(other), self._expr), T.StringType())
        return self._derived(self._other(other) + self._expr, self._num_type(other))

    def __sub__(self, other):
        self._check_str_op(other, "-", "none")
        return self._derived(self._expr - self._other(other), self._num_type(other))

    def __rsub__(self, other):
        self._check_str_op(other, "-", "none")
        return self._derived(self._other(other) - self._expr, self._num_type(other))

    def __mul__(self, other):
        if self._check_str_op(other, "*", "repeat"):
            return self._derived(
                F.repeat(self._expr, int(other)), T.StringType()
            )
        return self._derived(self._expr * self._other(other), self._num_type(other))

    def __rmul__(self, other):
        return self.__mul__(other)

    @staticmethod
    def _ieee_div(num: Column, den: Column) -> Column:
        """IEEE-754 double division, matching both pandas and the
        reference's Painless/Java semantics: x/0 -> ±inf, 0/0 -> NaN.
        Spark's own `/` THROWS under ANSI (default in Spark 4) and
        returns NULL under legacy — neither is the float contract. The
        when() guard keeps the raw division off the zero-divisor rows,
        so no ANSI error can fire."""
        num, den = num.cast("double"), den.cast("double")
        # IEEE signed zero: x / -0.0 flips the infinity's sign; the only
        # comparison that sees the sign bit of a zero is its string form
        neg_zero = den.cast("string").startswith("-")
        pos_inf = F.when(neg_zero, F.lit(float("-inf"))).otherwise(F.lit(float("inf")))
        neg_inf = F.when(neg_zero, F.lit(float("inf"))).otherwise(F.lit(float("-inf")))
        return F.when(
            den == 0,
            F.when(num > 0, pos_inf)
            .when(num < 0, neg_inf)
            .when(num == 0, F.lit(float("nan"))),
        ).otherwise(F.try_divide(num, den))

    def __truediv__(self, other):
        self._check_str_op(other, "/", "none")
        return self._derived(self._ieee_div(self._expr, self._other(other)), T.DoubleType())

    def __rtruediv__(self, other):
        self._check_str_op(other, "/", "none")
        return self._derived(self._ieee_div(self._other(other), self._expr), T.DoubleType())

    def _floor_div(self, num: Column, den: Column, out_type) -> Column:
        # Math.floor semantics like the reference script
        # (arithmetics.py:141). For double outputs the floor must STAY a
        # double: Spark's floor() returns LongType and silently clamps
        # anything beyond ±2^63 (e.g. 1.0 // 1e-308 -> 7e307, not
        # Long.MaxValue).
        d = self._ieee_div(num, den)
        if isinstance(out_type, T.DoubleType):
            # floor of the EXACT ratio, numpy's npy_divmod algorithm —
            # NOT floor(a/b) on the rounded double quotient: when the
            # true ratio sits just below an integer, a/b rounds UP to
            # it and the naive floor is off by one (r5 fuzzer find:
            # 1.5 // 1e-05 -> 150000.0, exact ratio 149999.9999...,
            # pandas/numpy give 149999.0). The divisor-sign mod makes
            # (a - pym) exactly divisible by b, so q carries the true
            # integer part; the >0.5 correction repairs the one
            # representation round-off (a - pym)/b can itself suffer.
            a, b = num.cast("double"), den.cast("double")
            # LAZY exactness: floor(d) on the rounded quotient is
            # provably floor(true ratio) whenever d's distance to the
            # nearest integer exceeds its own rounding error (half an
            # ulp; the guard uses an 8x margin, |d| * 2^-50). Only the
            # rare rows inside that margin pay the full npy_divmod
            # machinery — the hot loop stays at one division, one
            # floor, and a couple of compares per row. (The machinery
            # on every row was a measured 2x on the bench's arithmetic
            # query whenever the JVM ran the generated stage without
            # its C2 compile: Column trees expand on reuse, and the
            # expanded mod/divide chain dominated the interpreted
            # loop.)
            m = F.try_mod(a, b)  # fmod, dividend sign
            # numpy npy_floor_divide adjusts the QUOTIENT, not the
            # modulus: div = (a - m)/b, then -1 when the signs of m and
            # b differ (signum product < 0 ⟺ signs differ and m != 0,
            # in one m reference). Subtracting 1 from the integral
            # quotient is exact where the m+b dividend form breaks on
            # infinite divisors (5.0 // -inf is -1.0, not NaN — the
            # m+b form feeds inf/inf through the division).
            q = (a - m) / b - (
                F.signum(m) * F.signum(b) < 0
            ).cast("double")
            exact = F.floor(q).cast("double")
            # branch-free >0.5 round-off correction (ties stay floored)
            exact = exact + (q - exact > 0.5).cast("double")
            naive = F.floor(d).cast("double")
            frac = d - naive
            theta = F.abs(d) * F.lit(2.0 ** -50)
            fq = F.when(
                (frac > theta) & (F.lit(1.0) - frac > theta), naive
            ).otherwise(exact)
            # Inside ±2^63 the long floor is exact; outside it every
            # double is already integral, and NaN/±inf fail the bound
            # check. In that rare branch numpy's special cases apply:
            # b == 0 returns the raw IEEE quotient (a/b), an INFINITE
            # dividend with b != 0 is NaN (fmod(±inf, b) is NaN and
            # poisons the quotient), and everything else (finite
            # overflow like 1e300 // 1e-300, NaN inputs) is the raw
            # quotient again.
            bound = 9.2233720368547e18  # strictly below 2^63: no ANSI overflow
            inf_dividend = (F.abs(a) == F.lit(float("inf"))) & (b != 0)
            # abs-form gate: one d reference instead of two (NaN fails
            # abs(d) <= bound exactly like the two-sided compare)
            return F.when(F.abs(d) <= F.lit(bound), fq).otherwise(
                F.when(inf_dividend, F.lit(float("nan"))).otherwise(d)
            )
        # integer path: floor of the double quotient — exact for
        # |quotient| <= 2^53 (the fuzzed and practical range; beyond it
        # the double can't carry the low bits)
        return F.floor(F.try_divide(num, den))

    def __floordiv__(self, other):
        self._check_str_op(other, "//", "none")
        t = self._num_type(other)
        return self._derived(self._floor_div(self._expr, self._other(other), t), t)

    def __rfloordiv__(self, other):
        self._check_str_op(other, "//", "none")
        t = self._num_type(other)
        return self._derived(self._floor_div(self._other(other), self._expr, t), t)

    @staticmethod
    def _ieee_mod(num: Column, den: Column, out_type) -> Column:
        """Remainder with the DIVIDEND's sign (Java/Painless semantics,
        reference arithmetics.py — pandas flips to the divisor's sign
        for negatives; that divergence is the reference's contract).
        x % 0 -> NaN for doubles (NULL for ints), never an ANSI error."""
        if isinstance(out_type, T.DoubleType):
            return F.when(
                den.cast("double") == 0, F.lit(float("nan"))
            ).otherwise(F.try_mod(num, den))
        return F.try_mod(num, den)

    def __mod__(self, other):
        self._check_str_op(other, "%", "none")
        t = self._num_type(other)
        return self._derived(self._ieee_mod(self._expr, self._other(other), t), t)

    def __rmod__(self, other):
        self._check_str_op(other, "%", "none")
        t = self._num_type(other)
        return self._derived(self._ieee_mod(self._other(other), self._expr, t), t)

    def __pow__(self, other):
        self._check_str_op(other, "**", "none")
        # numpy's npy_pow special-cases small integer exponents as
        # repeated multiplication (x**2 == x*x bit-for-bit in numpy and
        # pandas), so lowering them to multiplies is BETTER parity than
        # Math.pow's 1-ulp-tolerant transcendental — and it dodges a
        # measured JVM cliff: whenever the generated stage runs without
        # its C2 compile (profile-pollution deopts), Math.pow falls off
        # the hardware intrinsic onto software StrictMath.pow (~90% of
        # the bench arithmetic query's task time in a jstack census).
        if isinstance(other, (int, float)) and float(other) == 2.0:
            x = self._expr.cast("double")
            return self._derived(x * x, T.DoubleType())
        return self._derived(F.pow(self._expr, self._other(other)), T.DoubleType())

    def __rpow__(self, other):
        self._check_str_op(other, "**", "none")
        return self._derived(F.pow(self._other(other), self._expr), T.DoubleType())

    # -- named arithmetic aliases (reference eland/series.py:827-1430
    #    exposes add/radd/sub/mul/div/... that delegate to the dunder
    #    operators; same here — one Column expression either way) -------
    def add(self, right):
        return self.__add__(right)

    def radd(self, left):
        return self.__radd__(left)

    def sub(self, right):
        return self.__sub__(right)

    subtract = sub

    def rsub(self, left):
        return self.__rsub__(left)

    rsubtract = rsub

    def mul(self, right):
        return self.__mul__(right)

    multiply = mul

    def rmul(self, left):
        return self.__rmul__(left)

    rmultiply = rmul

    def div(self, right):
        return self.__truediv__(right)

    divide = div
    truediv = div

    def rdiv(self, left):
        return self.__rtruediv__(left)

    rdivide = rdiv
    rtruediv = rdiv

    def floordiv(self, right):
        return self.__floordiv__(right)

    def rfloordiv(self, left):
        return self.__rfloordiv__(left)

    def mod(self, right):
        return self.__mod__(right)

    def rmod(self, left):
        return self.__rmod__(left)

    def pow(self, right):
        return self.__pow__(right)

    def rpow(self, left):
        return self.__rpow__(left)

    def abs(self) -> "Series":
        return self._derived(F.abs(self._expr), self._spark_type)

    def between(self, left, right, inclusive: str = "both") -> "Series":
        """Boolean mask ``left <= s <= right`` (pandas ``between``);
        compiles to a range predicate — pushdown-eligible like any
        comparison (reference range filter, eland/filter.py:97-118)."""
        lo, hi = _lit(left), _lit(right)
        if inclusive == "both":
            expr = (self._expr >= lo) & (self._expr <= hi)
        elif inclusive == "neither":
            expr = (self._expr > lo) & (self._expr < hi)
        elif inclusive == "left":
            expr = (self._expr >= lo) & (self._expr < hi)
        elif inclusive == "right":
            expr = (self._expr > lo) & (self._expr <= hi)
        else:
            raise ValueError("inclusive must be both/neither/left/right")
        return self._bool(expr)

    def clip(self, lower=None, upper=None) -> "Series":
        """pandas ``clip``: bound values via greatest/least (codegen'd,
        null-propagating like pandas)."""
        if lower is None and upper is None:
            raise ValueError("clip needs lower and/or upper")
        expr = self._expr
        if lower is not None:
            expr = F.when(expr.isNotNull(), F.greatest(expr, _lit(lower)))
        if upper is not None:
            expr = F.when(self._expr.isNotNull(), F.least(expr, _lit(upper)))
        return self._derived(expr, self._spark_type)

    def round(self, decimals: int = 0) -> "Series":
        return self._derived(F.round(self._expr, decimals), self._spark_type)

    def rename(self, name: str) -> "Series":
        return Series(self._frame, self._expr, name, self._spark_type, self._is_derived)

    # -- full-text match analog (reference es_match,
    #    eland/query_compiler.py:419-488): tokenized boolean contains;
    #    BM25 relevance is deliberately out of relational scope ---------
    def es_match(
        self,
        text: str,
        match_phrase: bool = False,
        fuzziness: int | str | None = None,
        must_not_match: bool = False,
    ) -> "Series":
        """Boolean text match. ``fuzziness`` follows ES semantics: an
        edit-distance int, or "AUTO" (0 for terms <3 chars, 1 for 3-5,
        2 beyond — the ES default ladder). Fuzzy matching tokenizes the
        column once and tests per-word Levenshtein distance inside an
        ``exists`` higher-order function — all JVM expressions, no UDF.
        """
        if match_phrase:
            if fuzziness is not None:
                # same restriction as ES: match_phrase has no fuzziness
                raise ValueError("match_phrase does not support fuzziness")
            import re

            pattern = r"\b" + r"\s+".join(re.escape(t) for t in text.split()) + r"\b"
            out = F.coalesce(F.lower(self._expr).rlike(pattern.lower()), F.lit(False))
            return self._bool(~out if must_not_match else out)

        def fuzz(tok: str) -> int:
            if fuzziness is None:
                return 0
            if isinstance(fuzziness, str):
                if fuzziness.upper() != "AUTO":
                    raise ValueError(f"unsupported fuzziness {fuzziness!r}")
                return 0 if len(tok) < 3 else (1 if len(tok) <= 5 else 2)
            return int(fuzziness)

        words = None
        conds = []
        for tok in text.split():
            k = fuzz(tok)
            if k == 0:
                conds.append(
                    F.lower(self._expr).rlike(r"\b" + _re_escape(tok.lower()) + r"\b")
                )
            else:
                if words is None:
                    words = F.filter(
                        F.split(F.lower(self._expr), r"[^0-9a-z]+"),
                        lambda w: w != "",
                    )
                def _within(t: str, dist: int):
                    # factory closure: pyspark derives HOF arity from the
                    # lambda signature, so defaults can't ride along
                    return lambda w: F.levenshtein(w, F.lit(t)) <= F.lit(dist)

                conds.append(F.exists(words, _within(tok.lower(), k)))
        out = conds[0]
        for c in conds[1:]:
            out = out | c
        # null text never matches; under must_not it DOES match (ES
        # must_not on a missing/null field keeps the doc)
        out = F.coalesce(out, F.lit(False))
        return self._bool(~out if must_not_match else out)

    # -- aggregations (driver-side scalars, like the reference's
    #    single-request metric aggs eland/operations.py:176-418) --------
    def _agg_scalar(self, expr: Column):
        row = self._frame._sdf.agg(expr.alias("v")).collect()[0]
        return row["v"]

    def _agg_stat(self, expr: Column) -> float:
        """A moment statistic as a float, NaN where Spark gives null
        (too few observations), like pandas."""
        v = self._agg_scalar(expr)
        return float("nan") if v is None else float(v)

    def _numeric_expr(self) -> Column:
        """Boolean series aggregate as ints under pandas semantics
        (the reference casts bool agg results back,
        eland/operations.py:737-745); Spark's sum/avg reject bool."""
        if isinstance(self._spark_type, T.BooleanType):
            return self._expr.cast("int")
        return self._expr

    def min(self):
        return self._agg_scalar(F.min(self._expr))

    def max(self):
        return self._agg_scalar(F.max(self._expr))

    def sum(self):
        return self._agg_scalar(F.sum(self._numeric_expr()))

    def mean(self):
        return self._agg_scalar(F.avg(self._numeric_expr()))

    def count(self) -> int:
        return self._agg_scalar(F.count(self._expr))

    def std(self):
        return self._agg_stat(F.stddev_samp(self._numeric_expr()))

    def var(self):
        return self._agg_stat(F.var_samp(self._numeric_expr()))

    def sem(self, ddof: int = 1):
        """Standard error of the mean: std(ddof) / sqrt(count), in ONE
        aggregate pass (pandas parity; the frame-level ``sem`` computes
        the same per column). NaN when count <= ddof."""
        row = self._frame._sdf.agg(
            F.stddev_samp(self._numeric_expr()).alias("s"),
            F.count(self._numeric_expr()).alias("n"),
        ).collect()[0]
        n = row["n"]
        if n - ddof <= 0:
            return float("nan")
        # stddev_samp is ddof=1 (NaN on one row); rescale its sum of
        # squared deviations for other ddof
        m2 = row["s"] ** 2 * (n - 1) if n > 1 else 0.0
        return math.sqrt(m2 / (n - ddof)) / math.sqrt(n)

    def skew(self):
        """Sample-adjusted Fisher-Pearson skewness (pandas G1) — shares
        the frame-level agg expression (one scalar aggregate)."""
        return self._agg_stat(
            self._frame._AGG_EXPRS["skew"](self._numeric_expr())
        )

    def kurt(self):
        """Sample-adjusted excess kurtosis (pandas G2)."""
        return self._agg_stat(
            self._frame._AGG_EXPRS["kurt"](self._numeric_expr())
        )

    kurtosis = kurt

    def prod(self):
        """Product of values (pandas parity; empty product is 1)."""
        return self._agg_scalar(
            self._frame._AGG_EXPRS["prod"](self._numeric_expr())
        )

    product = prod

    def any(self) -> bool:
        """True if any non-null value is truthy (pandas skipna parity)."""
        return bool(
            self._agg_scalar(self._frame._AGG_EXPRS["any"](self._numeric_expr()))
        )

    def all(self) -> bool:
        """True if every non-null value is truthy (pandas skipna parity)."""
        return bool(
            self._agg_scalar(self._frame._AGG_EXPRS["all"](self._numeric_expr()))
        )

    def corr(self, other: "Series", method: str = "pearson"):
        """Correlation with another column of the SAME frame, null
        pairs skipped like pandas. ``method='pearson'`` is one scalar
        aggregate (F.corr); ``method='spearman'`` is the exact
        tie-averaged midrank correlation via the distinct-pair plan
        (operators/ranking.spearman_corr — never ranks row data)."""
        if method == "spearman":
            from .operators.ranking import spearman_corr

            pair = self._frame._sdf.select(
                self._numeric_expr().alias("__x__"),
                self._other(other).cast("double").alias("__y__"),
            )
            v = spearman_corr(pair, "__x__", "__y__").collect()[0]["rho"]
            return float("nan") if v is None else float(v)
        if method != "pearson":
            raise NotImplementedError(
                "method must be 'pearson' or 'spearman'"
            )
        return self._agg_stat(
            F.corr(self._numeric_expr(), self._other(other).cast("double"))
        )

    def cov(self, other: "Series", ddof: int = 1):
        """Sample covariance with another column of the same frame
        (``ddof=0`` for the population estimator)."""
        fn = F.covar_samp if ddof == 1 else F.covar_pop
        if ddof not in (0, 1):
            raise ValueError("ddof must be 0 or 1")
        return self._agg_stat(
            fn(self._numeric_expr(), self._other(other).cast("double"))
        )

    def autocorr(self, lag: int = 1):
        """Lag-``lag`` autocorrelation over the global index order
        (pandas parity). The lagged twin comes from the windowless
        shift plan (operators/ranking.with_global_shift — balanced
        hash join on the dense position key, no single-partition
        window); the correlation itself is one scalar aggregate."""
        from .operators.ranking import with_global_shift

        base, icols = self._ordered_frame()
        out = with_global_shift(base, icols, ["__val__"], lag)
        return out.agg(
            F.corr(
                F.col("__val__").cast("double"),
                F.col("__val____prev__").cast("double"),
            ).alias("v")
        ).collect()[0]["v"]

    def nunique(self, approx: bool = False) -> int:
        fn = F.approx_count_distinct if approx else F.countDistinct
        return self._agg_scalar(fn(self._expr))

    def median(self, approx: bool = False):
        return self.quantile(0.5, approx=approx)

    def quantile(self, q: float = 0.5, approx: bool = False):
        if approx:
            return self._agg_scalar(F.percentile_approx(self._expr, q))
        return self._agg_scalar(F.percentile(self._expr, F.lit(q)))

    def mad(self, approx: bool = False):
        """Median absolute deviation (reference maps to the approximate
        median_absolute_deviation agg, eland/operations.py:1120-1121;
        exact here by default for oracle matching)."""
        med = self.quantile(0.5, approx=approx)
        if med is None:
            return None
        dev = F.abs(self._expr - F.lit(float(med)))
        if approx:
            return self._agg_scalar(F.percentile_approx(dev, 0.5))
        return self._agg_scalar(F.percentile(dev, F.lit(0.5)))

    def idxmax(self):
        """Index value of the maximum (reference top_hits size=1,
        eland/operations.py:207-254 — here one max_by aggregate)."""
        return self._idx_extreme(True)

    def idxmin(self):
        return self._idx_extreme(False)

    def first_valid_index(self):
        """pandas ``Series.first_valid_index``: the smallest index
        value whose entry is non-null (one min aggregate; None when
        the series has no valid entries)."""
        return self._valid_index(first=True)

    def last_valid_index(self):
        """pandas ``Series.last_valid_index`` — the max twin."""
        return self._valid_index(first=False)

    def _valid_index(self, first: bool):
        icols = self._frame._schema.index_cols
        if not icols:
            raise ValueError("first/last_valid_index needs an index column")
        key = self._frame._schema.resolve(icols[0])
        masked = F.when(self._expr.isNotNull(), F.col(key))
        agg = F.min(masked) if first else F.max(masked)
        return self._frame._sdf.agg(agg.alias("i")).collect()[0]["i"]

    def _idx_extreme(self, is_max: bool):
        icols = self._frame._schema.index_cols
        if not icols:
            raise ValueError("idxmax/idxmin needs an index column")
        key = self._frame._schema.resolve(icols[0])
        v = self._expr.cast("double")
        ordering = (-v) if is_max else v
        pair = F.when(
            v.isNotNull(), F.struct(ordering.alias("o"), F.col(key).alias("i"))
        )
        row = self._frame._sdf.agg(
            F.min_by(F.col(key), pair).alias("i")
        ).collect()[0]
        return row["i"]

    def value_counts(
        self,
        es_size: int = 10,
        normalize: bool = False,
        dropna: bool = True,
        bins: int | None = None,
    ) -> pd.Series:
        """Top-k by frequency (reference terms agg,
        eland/operations.py:420-468); ``dropna`` excludes the null
        bucket and ``normalize=True`` returns frequency fractions of
        the non-null total (both pandas semantics). ``bins=n`` counts
        equal-width buckets instead of distinct values (pandas
        bins= — delegates to :meth:`cut`)."""
        if bins is not None:
            binned = self.cut(bins).rename(self._name)
            return binned.value_counts(
                es_size=bins, normalize=normalize, dropna=dropna
            )
        sdf = self._frame._sdf
        if dropna:
            sdf = sdf.filter(self._expr.isNotNull())
        rows = (
            sdf.groupBy(self._expr.alias(self._name))
            .count()
            .orderBy(F.desc("count"), F.asc(self._name))
            .limit(es_size)
            .collect()
        )
        counts = [r["count"] for r in rows]
        if normalize:
            total = self._frame._sdf.agg(
                F.count(self._expr).alias("n")
            ).collect()[0]["n"]
            counts = [c / total for c in counts]
        return pd.Series(
            counts,
            index=[r[self._name] for r in rows],
            name=self._name,
        )

    def nlargest(self, n: int = 5) -> pd.Series:
        """Top-n values with their index labels (pandas surface;
        TakeOrdered — no full sort shuffle)."""
        return self._n_extreme(n, asc=False)

    def nsmallest(self, n: int = 5) -> pd.Series:
        return self._n_extreme(n, asc=True)

    def _n_extreme(self, n: int, asc: bool) -> pd.Series:
        idx = self._frame._schema.index_cols
        if not idx:
            raise ValueError("nlargest/nsmallest require an index column")
        key = idx[0]
        # pandas ranks NaN last in both directions (fill-up only)
        order = [
            self._expr.asc_nulls_last() if asc else self._expr.desc_nulls_last(),
            F.col(key).asc(),
        ]
        rows = (
            self._frame._sdf.select(F.col(key), self._expr.alias(self._name))
            .orderBy(*order)
            .limit(int(n))
            .collect()
        )
        return pd.Series(
            [r[self._name] for r in rows],
            index=[r[key] for r in rows],
            name=self._name,
        )

    def unique(self):
        rows = self._frame._sdf.select(self._expr.alias("v")).distinct().collect()
        import numpy as np

        return np.array([r["v"] for r in rows])

    def mode(self) -> pd.Series:
        """All values tied at max frequency, sorted (reference tie
        semantics eland/operations.py:676-696). Nulls are never mode
        candidates (pandas dropna=True; ES terms aggs skip missing).

        Ties resolve via max-count broadcast filter, not a global rank
        window — a rank over an unpartitioned window funnels the whole
        distinct-value table through ONE task, which breaks on
        high-cardinality columns at scale."""
        counted = (
            self._frame._sdf.filter(self._expr.isNotNull())
            .groupBy(self._expr.alias("v"))
            .count()
        )
        top = counted.agg(F.max("count").alias("m"))
        rows = (
            counted.join(F.broadcast(top), counted["count"] == top["m"])
            .orderBy("v")
            .collect()
        )
        return pd.Series([r["v"] for r in rows], name=self._name)

    def to_pandas(self) -> pd.Series:
        pdf = self._frame[[self._name]].to_pandas() if not self._is_derived else None
        if pdf is None:
            sdf = self._frame._ordered_sdf().select(self._expr.alias(self._name))
            pdf = sdf.toPandas()
        return pdf[self._name]

    def to_list(self) -> list:
        """pandas ``Series.tolist`` — collects the column to the driver
        (same boundary as ``to_pandas``)."""
        return self.to_pandas().tolist()

    tolist = to_list

    def head(self, n: int = 5) -> pd.Series:
        f = self._frame.head(n)
        if self._is_derived:
            return Series(f, self._expr, self._name, self._spark_type, True).to_pandas()
        return f[self._name].to_pandas()

    def tail(self, n: int = 5) -> pd.Series:
        f = self._frame.tail(n)
        if self._is_derived:
            return Series(f, self._expr, self._name, self._spark_type, True).to_pandas()
        return f[self._name].to_pandas()

    def sample(self, n: int | None = None, frac: float | None = None,
               random_state: int = 42) -> pd.Series:
        f = self._frame.sample(n=n, frac=frac, random_state=random_state)
        if self._is_derived:
            return Series(f, self._expr, self._name, self._spark_type, True).to_pandas()
        return f[self._name].to_pandas()

    def cut(self, bins, right: bool = True) -> "Series":
        """pandas ``pd.cut`` returning bucket codes (``labels=False``):
        equal-width bins (int) or explicit edges (list). Compiled to a
        chained CASE expression — one tiny min/max job for int bins,
        then a codegen'd projection; the histogram relative of
        operators/histogram.py (reference hist,
        eland/operations.py:470-556). Out-of-range values get null
        (pandas NaN)."""
        if isinstance(bins, int):
            if bins < 1:
                raise ValueError("bins must be >= 1")
            row = self._frame._sdf.agg(
                F.min(self._expr).alias("mn"), F.max(self._expr).alias("mx")
            ).collect()[0]
            if row["mn"] is None:
                # empty or all-null column: every code is null (pandas)
                return self._derived(F.lit(None).cast("long"), T.LongType())
            mn, mx = float(row["mn"]), float(row["mx"])
            span = (mx - mn) or 1.0
            # pandas computes edges with np.linspace: mn + i*step with
            # step precomputed as span/bins (and the endpoint pinned to
            # mx). The association matters bit-for-bit — (span*i)/bins
            # lands interior edges an ulp away from linspace's, and a
            # value inside that ulp flips buckets vs pandas (r5 fuzzer
            # find: a denormal vs the near-zero edge of a ±1e9 range).
            step = span / bins
            edges = [mn + step * i for i in range(bins)] + [mx]
            # pandas widens the outermost edge by 0.1% so extremes land
            # inside the first/last bucket
            if right:
                edges[0] -= span * 0.001
            else:
                edges[-1] += span * 0.001
        else:
            edges = [float(e) for e in bins]
            if len(edges) < 2 or any(
                a >= b for a, b in zip(edges, edges[1:])
            ):
                raise ValueError("bin edges must be strictly increasing")
        return self._derived(self._bucketize(edges, right), T.LongType())

    def _bucketize(self, edges: list, right: bool) -> Column:
        expr = F.lit(None).cast("long")
        for i in range(len(edges) - 2, -1, -1):
            lo, hi = F.lit(edges[i]), F.lit(edges[i + 1])
            if right:
                cond = (self._expr > lo) & (self._expr <= hi)
            else:
                cond = (self._expr >= lo) & (self._expr < hi)
            expr = F.when(cond, F.lit(i).cast("long")).otherwise(expr)
        return expr

    def qcut(self, q, approx: bool = False) -> "Series":
        """pandas ``pd.qcut`` returning bucket codes: quantile-based
        edges (exact ``percentile`` by default for oracle matching;
        ``approx=True`` switches to ``percentile_approx`` for the
        100 TB path), then the same CASE bucketing as :meth:`cut` with
        the lowest value included (pandas include_lowest)."""
        qs = (
            [i / q for i in range(q + 1)]
            if isinstance(q, int)
            else [float(x) for x in q]
        )
        fn = "percentile_approx" if approx else "percentile"
        row = self._frame._sdf.agg(
            getattr(F, fn)(self._expr, F.lit(qs)).alias("e")
        ).collect()[0]
        edges = [float(e) for e in row["e"]]
        # duplicate edges collapse (pandas duplicates='drop')
        dedup = [edges[0]]
        for e in edges[1:]:
            if e > dedup[-1]:
                dedup.append(e)
        if len(dedup) < 2:
            raise ValueError("cannot qcut: all quantile edges identical")
        expr = self._bucketize(dedup, right=True)
        # include_lowest: the minimum belongs to bucket 0
        expr = F.when(self._expr == F.lit(dedup[0]), F.lit(0).cast("long")).otherwise(
            expr
        )
        return self._derived(expr, T.LongType())

    def where(self, cond: "Series", other=None) -> "Series":
        """pandas ``where``: keep values where ``cond`` holds, else
        ``other`` (default null). One CASE expression."""
        if not isinstance(cond, Series):
            raise TypeError("cond must be a boolean Series")
        repl = other._expr if isinstance(other, Series) else _lit(other)
        expr = F.when(F.coalesce(cond._expr, F.lit(False)), self._expr).otherwise(
            repl
        )
        return self._derived(expr, self._spark_type)

    def mask(self, cond: "Series", other=None) -> "Series":
        """pandas ``mask``: inverse of :meth:`where`."""
        if not isinstance(cond, Series):
            raise TypeError("cond must be a boolean Series")
        return self.where(cond._bool(~F.coalesce(cond._expr, F.lit(False))), other)

    def astype(self, dtype) -> "Series":
        """Cast to a pandas/numpy/Spark dtype name (schema-aware, same
        map as DataFrame.astype)."""
        from .schema import pd_to_spark_type

        target = pd_to_spark_type(dtype)
        return self._derived(self._expr.cast(target), target)

    def rank(self, method: str = "average", ascending: bool = True, pct: bool = False):
        """pandas ``Series.rank`` as a lazy frame (index columns +
        ``rank``). Global ranks come from the windowless range-sort
        operator (operators/ranking.py — no empty-PARTITION-BY
        single-reducer cliff); tie methods ``average``/``min``/``max``
        resolve ties with a value-partitioned window that REUSES the
        range exchange (range partitioning on the value alone
        co-locates ties — no second shuffle for integer/string values;
        float values keep one hash exchange because Spark wraps float
        window keys in NaN/-0.0 normalization that range partitioning
        on the raw column cannot satisfy),
        ``dense`` range-ranks the DISTINCT values and hash-joins back
        (small side, still windowless), ``first`` is the raw global
        row number. ``pct=True`` divides by the non-null count (dense:
        the distinct-value count) carried as a broadcast 1-row
        aggregate. Nulls rank null (pandas NaN), excluded from the
        count."""
        from pyspark.sql import Window

        from .frame import DataFrame as EDF
        from .operators.ranking import with_global_rank

        if method not in ("average", "min", "max", "first", "dense"):
            raise ValueError("method must be average/min/max/first/dense")
        frame = self._frame
        icols = list(frame.index_cols)
        if not icols:
            raise ValueError("rank needs an index for deterministic ties")
        schema = frame._schema
        key_cols = [F.col(schema.resolve(c)).alias(c) for c in icols]
        base = frame._sdf.select(*key_cols, self._expr.alias("__val__"))
        nonnull = base.filter(F.col("__val__").isNotNull())
        # tie methods window over __val__ afterwards: range-partition on
        # the value ALONE so equal values are co-located and that window
        # reuses this exchange (no second shuffle); full ordering still
        # sorts within partitions, so ranks are unchanged
        tie_method = method in ("average", "min", "max")
        ranked = with_global_rank(
            nonnull,
            ["__val__", *icols],
            ascending=ascending,
            rank_col="__rn__",
            range_cols=["__val__"] if tie_method else None,
        )
        if method == "first":
            expr = F.col("__rn__").cast("double")
        elif method == "dense":
            # dense = the value's rank among DISTINCT values: rank the
            # (much smaller) distinct set with the same windowless
            # range-sort operator, hash-join back on the value — no
            # global single-partition window anywhere
            dvals = nonnull.select("__val__").distinct()
            dranked = with_global_rank(
                dvals, ["__val__"], ascending=ascending, rank_col="__dr__"
            )
            ranked = ranked.join(dranked, on="__val__")
            expr = F.col("__dr__").cast("double")
        else:
            agg = {"min": F.min, "max": F.max, "average": F.avg}[method]
            expr = (
                agg(F.col("__rn__"))
                .over(Window.partitionBy(F.col("__val__")))
                .cast("double")
            )
        if pct:
            # pandas pct denominator: non-null count (dense: distinct
            # non-null count) — a 1-row aggregate broadcast in, never a
            # global unpartitioned window
            den_agg = (
                F.countDistinct("__val__")
                if method == "dense"
                else F.count(F.lit(1))
            )
            denom = nonnull.agg(den_agg.cast("double").alias("__den__"))
            ranked = ranked.crossJoin(F.broadcast(denom))
            expr = expr / F.col("__den__")
        out = ranked.select(*icols, expr.alias("rank"))
        nulls = base.filter(F.col("__val__").isNull()).select(
            *icols, F.lit(None).cast("double").alias("rank")
        )
        return EDF(out.unionByName(nulls), index_cols=tuple(icols))

    def _ordered_frame(self):
        """(base sdf with index cols + __val__, index col names) for the
        global-order ops (shift/diff/cumsum) — ordered by the index like
        pandas."""
        frame = self._frame
        icols = list(frame.index_cols)
        if not icols:
            raise ValueError("shift/diff/cumsum need an index for a total order")
        schema = frame._schema
        key_cols = [F.col(schema.resolve(c)).alias(c) for c in icols]
        return frame._sdf.select(*key_cols, self._expr.alias("__val__")), icols

    def shift(self, periods: int = 1):
        """pandas ``Series.shift`` over the global index order, as a
        lazy frame (index columns + ``shift``). Scalable shape: global
        positions from the windowless range-sort rank operator, then a
        self-equi-join on ``position - periods``
        (operators/ranking.with_global_shift) — one balanced hash
        shuffle on the dense position key, no empty-PARTITION-BY
        window."""
        return self._order_op("shift", periods)

    def diff(self, periods: int = 1):
        """pandas ``Series.diff``: value minus the value ``periods``
        rows earlier in the global index order (same windowless plan as
        :meth:`shift`)."""
        return self._order_op("diff", periods)

    def pct_change(self, periods: int = 1):
        """pandas ``Series.pct_change``: fractional change vs the value
        ``periods`` rows earlier (same windowless plan as
        :meth:`shift`); IEEE division like ``DataFrame.pct_change``
        (prev 0 -> ±inf, 0/0 -> NaN, never an ANSI error)."""
        return self._order_op("pct_change", periods)

    def _order_op(self, how: str, periods: int = 1):
        """The frame-level global-order op on this one column (shared
        kernel call, see ``frame._global_order_op``), result named
        ``how``."""
        from .frame import DataFrame as EDF
        from .frame import _global_order_op

        base, icols = self._ordered_frame()
        out = _global_order_op(base, icols, ["__val__"], how, periods)
        return EDF(
            out.withColumnRenamed("__val__", how), index_cols=tuple(icols)
        )

    def interpolate(self, method: str = "linear", limit: int | None = None):
        """pandas ``Series.interpolate(method='linear')`` over the
        global index order, as a lazy frame (index columns +
        ``interpolate``). Linear on row position with the pandas
        default ``limit_direction='forward'``: interior gaps get the
        straight line between surrounding valid values, trailing nulls
        carry the last valid forward, leading nulls stay null;
        ``limit`` caps consecutive fills. Windowless at scale — the
        ffill/bfill bucket plan of operators/ranking
        (with_global_interpolate): one balanced hash exchange, driver
        prefix/suffix carries of per-bucket boundary (position, value)
        structs. Only ``method='linear'`` is supported (the pandas
        spline/polynomial family needs scipy)."""
        if method != "linear":
            raise NotImplementedError(
                "interpolate: only method='linear' is supported"
            )
        from .frame import DataFrame as EDF
        from .operators.ranking import with_global_interpolate

        base, icols = self._ordered_frame()
        out = with_global_interpolate(base, icols, ["__val__"], limit=limit)
        return EDF(
            out.select(*icols, F.col("__val__").alias("interpolate")),
            index_cols=tuple(icols),
        )

    def expanding(self, min_periods: int = 1):
        """pandas ``Series.expanding()`` over the global index order:
        lazy proxy with ``sum/mean/min/max/count/std/var`` — each compiles to
        the windowless cumulative-agg bucket plan
        (operators/ranking.with_global_expanding); results are null until
        ``min_periods`` non-null observations have been seen."""
        return _Expanding(self, min_periods)

    def rolling(self, window: int, min_periods: int | None = None):
        """pandas ``Series.rolling(window)`` over the global index
        order: returns a lazy rolling proxy with
        ``sum/mean/min/max/count/std/var``. Windowless at scale — position
        buckets sized >= ``window`` with the last ``window-1`` rows
        replicated into the next bucket, one balanced hash exchange
        (operators/ranking.with_global_rolling); no single-partition
        window. ``min_periods`` defaults to ``window`` like pandas."""
        return _Rolling(self, window, min_periods)

    @property
    def is_unique(self) -> bool:
        """True when no value occurs twice (nulls count as equal, like
        pandas) — one distinct-vs-count aggregate pair."""
        row = self._frame._sdf.agg(
            F.count_distinct(self._expr).alias("d"),
            F.count(self._expr).alias("n"),
            F.sum(self._expr.isNull().cast("int")).alias("nulls"),
        ).collect()[0]
        return bool(
            row["d"] == row["n"] and (row["nulls"] or 0) <= 1
        )

    def _is_monotonic(self, increasing: bool) -> bool:
        """Global-order monotonicity via the windowless shift plan: one
        balanced position join, then a single bool_and aggregate."""
        from .operators.ranking import with_global_shift

        base, icols = self._ordered_frame()
        out = with_global_shift(base, icols, ["__val__"], 1)
        cur, prev = F.col("__val__"), F.col("__val____prev__")
        ok = (cur >= prev) if increasing else (cur <= prev)
        row = out.agg(
            F.coalesce(
                F.bool_and(F.when(prev.isNotNull() & cur.isNotNull(), ok)),
                F.lit(True),
            ).alias("m"),
            F.sum(cur.isNull().cast("int")).alias("nulls"),
        ).collect()[0]
        # pandas: any NaN makes the series non-monotonic
        return bool(row["m"] and not (row["nulls"] or 0))

    @property
    def is_monotonic_increasing(self) -> bool:
        return self._is_monotonic(True)

    @property
    def is_monotonic_decreasing(self) -> bool:
        return self._is_monotonic(False)

    def ewm(
        self,
        alpha: float | None = None,
        span: float | None = None,
        halflife: float | None = None,
        com: float | None = None,
        min_periods: int = 0,
    ):
        """pandas ``Series.ewm(...)`` over the global index order: lazy
        proxy with ``.mean()``. Scale shape: the recursion truncates at
        the kernel width where weights fall below double precision
        (exact), so the global sequential dependency becomes a bounded
        lookback — computed with the same bucket-overlap plan as
        rolling (operators/windowed.ewm_global), one balanced hash
        exchange, no single-partition window."""
        return _Ewm(self, alpha, span, halflife, com, min_periods)

    def cumsum(self):
        """pandas ``Series.cumsum`` over the global index order (skipna
        semantics: null rows stay null, the run continues). Windowless
        at scale: position buckets + one balanced hash exchange + a
        driver prefix-sum of per-bucket totals
        (operators/ranking.with_global_cumagg)."""
        return self._order_op("cumsum")

    def cummax(self):
        """pandas ``Series.cummax`` — same windowless bucket plan as
        :meth:`cumsum` with a prefix-max combine."""
        return self._order_op("cummax")

    def cummin(self):
        """pandas ``Series.cummin`` — same windowless bucket plan as
        :meth:`cumsum` with a prefix-min combine."""
        return self._order_op("cummin")

    def cumprod(self):
        """pandas ``Series.cumprod`` (skipna) — the cumsum bucket plan
        with a TRUE running product (``F.product`` within buckets,
        driver prefix-multiply across them): zeros and signs exact, no
        log/exp detour."""
        return self._order_op("cumprod")

    def map(self, arg) -> "Series":
        """pandas ``Series.map`` with a dict/Mapping: compiled to a JVM
        map-literal lookup (``create_map(...)[col]``) — codegen'd, no
        Python boundary; unmapped keys become null (pandas NaN
        semantics). For a callable use :meth:`map_pandas` (explicit
        Arrow batch path)."""
        if callable(arg):
            raise TypeError(
                "Series.map(callable) would run row-at-a-time Python; "
                "use Series.map_pandas(fn, dtype) for the vectorized "
                "Arrow path"
            )
        items = list(arg.items())
        if not items:
            return self._derived(F.lit(None), None)
        # Infer the result type from ALL non-null values (the first may
        # be None), promoting mixed int+float to double so the map
        # literal coerces cleanly at analysis time.
        kinds = set()
        for v in arg.values():
            if v is None:
                continue
            if isinstance(v, bool):
                kinds.add("bool")
            elif isinstance(v, int):
                kinds.add("int")
            elif isinstance(v, float):
                kinds.add("float")
            elif isinstance(v, str):
                kinds.add("str")
            else:
                kinds.add("other")
        out_type: T.DataType | None
        if kinds == {"bool"}:
            out_type = T.BooleanType()
        elif kinds == {"int"}:
            out_type = T.LongType()
        elif kinds in ({"float"}, {"int", "float"}):
            out_type = T.DoubleType()
        elif kinds == {"str"}:
            out_type = T.StringType()
        elif kinds and kinds <= {"bool", "int", "float", "str"}:
            raise TypeError(
                f"Series.map dict values mix incompatible types {sorted(kinds)}; "
                "cast them to one type first"
            )
        else:
            out_type = None
        pairs: list[Column] = []
        for k, v in items:
            pairs.append(_lit(k))
            vl = _lit(v)
            pairs.append(vl.cast(out_type) if out_type is not None else vl)
        mapped = F.create_map(*pairs)[self._expr]
        return self._derived(mapped, out_type)

    def map_pandas(self, fn, dtype: str | T.DataType | None = None) -> "Series":
        """Explicit Python escape hatch: ``fn(pd.Series) -> pd.Series``
        applied per Arrow batch (``pandas_udf`` — vectorized transfer,
        never row-at-a-time; the reference's analog is a Painless
        script field, eland/tasks.py:347-402). Prefer built-in Column
        expressions when they can express the logic — they stay inside
        whole-stage codegen."""
        out_type = dtype if dtype is not None else (self._spark_type or "double")
        udf = F.pandas_udf(fn, returnType=out_type)
        expr = udf(self._expr)
        resolved = (
            out_type
            if isinstance(out_type, T.DataType)
            else T._parse_datatype_string(out_type)
        )
        return self._derived(expr, resolved)

    def apply(self, fn, dtype: str | T.DataType | None = None) -> "Series":
        """pandas ``Series.apply``: the callable receives SCALARS and is
        evaluated per Arrow batch through ``pd.Series.apply`` inside a
        pandas_udf — vectorized transfer, Python per element within the
        batch. This is the explicit escape hatch; prefer Column
        expressions or :meth:`map_pandas` (whole-batch callable) when
        the logic allows."""
        return self.map_pandas(lambda s: s.apply(fn), dtype=dtype)

    def replace(self, to_replace, value=None) -> "Series":
        """pandas ``Series.replace`` for scalar / list / dict forms,
        compiled to a CASE chain (codegen'd, shuffle-free). Dict values
        must share one type with each other; unmatched rows keep their
        original value (pandas semantics). Regex forms are
        ``str.replace``'s job."""
        if isinstance(to_replace, dict):
            if value is not None:
                raise ValueError("value must be None when to_replace is a dict")
            items = [(k, v) for k, v in to_replace.items() if k is not None]
            if not items:
                return self
            expr = None
            for k, v in items:
                cond = self._expr == _lit(k)
                expr = (
                    F.when(cond, _lit(v))
                    if expr is None
                    else expr.when(cond, _lit(v))
                )
            same_kind = all(
                (isinstance(v, bool) == isinstance(k, bool))
                and (
                    isinstance(v, type(k))
                    or (isinstance(k, (int, float)) and isinstance(v, (int, float)))
                )
                for k, v in items
                if v is not None
            )
            out_type = self._spark_type if same_kind else None
            return self._derived(expr.otherwise(self._expr), out_type)
        targets = (
            list(to_replace)
            if isinstance(to_replace, (list, tuple, set))
            else [to_replace]
        )
        cond = self._expr.isin(targets)
        return self._derived(
            F.when(cond, _lit(value)).otherwise(self._expr), self._spark_type
        )

    def duplicated(self, keep: str = "first") -> "Series":
        """pandas ``Series.duplicated``: boolean flag per row, keyed on
        this column's values (one hash shuffle — the Series face of
        operators/dedup.duplicated)."""
        from .operators.dedup import duplicated as _dup

        frame = (
            self._frame.assign(**{self._name: self})
            if self._is_derived
            else self._frame
        )
        return _dup(frame, subset=[self._name], keep=keep)["duplicated"]

    def drop_duplicates(self, keep: str = "first") -> "Series":
        """pandas ``Series.drop_duplicates``: this column restricted to
        one representative row per distinct value (deterministic
        keep-first/last by index — operators/dedup.drop_duplicates)."""
        from .operators.dedup import drop_duplicates as _dd

        frame = (
            self._frame.assign(**{self._name: self})
            if self._is_derived
            else self._frame
        )
        return _dd(frame, subset=[self._name], keep=keep)[self._name]

    def sort_values(self, ascending: bool = True) -> "Series":
        """Series backed by the frame ordered on this column's values
        (one range exchange; ties broken by nothing — add the index to
        ``frame.sort_values`` for a total order)."""
        ordered = self._frame._sdf.orderBy(
            # pandas na_position='last' default
            self._expr.asc_nulls_last() if ascending else self._expr.desc_nulls_last()
        )
        order = (
            None
            if self._is_derived
            else ((self._frame._schema.resolve(self._name), ascending, True),)
        )
        return Series(
            self._frame._with(sdf=ordered, order=order),
            self._expr,
            self._name,
            self._spark_type,
            self._is_derived,
        )

    def hist(self, bins: int = 10):
        """Server-side histogram of this column — counts computed in
        Spark, only ``bins`` rows reach the driver (reference
        eland/series.py hist -> eland/plotting/_core.py:21-131)."""
        frame = (
            self._frame.assign(**{self._name: self})
            if self._is_derived
            else self._frame
        )
        return frame.hist(self._name, bins)

    def describe(self) -> pd.Series:
        """count/mean/std/min/quartiles/max (reference delegates to the
        frame describe path, eland/ndframe.py:611-644)."""
        qs = self._frame._sdf.agg(
            F.count(self._expr).alias("count"),
            F.avg(self._expr).alias("mean"),
            F.stddev_samp(self._expr).alias("std"),
            F.min(self._expr).alias("min"),
            F.percentile(self._expr, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("q"),
            F.max(self._expr).alias("max"),
        ).collect()[0]
        return pd.Series(
            {
                "count": float(qs["count"]),
                "mean": qs["mean"],
                "std": qs["std"],
                "min": qs["min"],
                "25%": qs["q"][0] if qs["q"] else None,
                "50%": qs["q"][1] if qs["q"] else None,
                "75%": qs["q"][2] if qs["q"] else None,
                "max": qs["max"],
            },
            name=self._name,
        )

    def filter(self, items=None, like=None, regex=None, axis=None) -> pd.Series:
        """Index-value filtering (axis=0 is the only axis a Series has;
        reference eland/series.py filter delegation)."""
        if axis in (1, "columns"):
            raise ValueError("Series.filter has no columns axis")
        f = self._frame.filter(items=items, like=like, regex=regex, axis=0)
        return f[self._name].to_pandas()

    @property
    def ndim(self) -> int:
        return 1

    @property
    def empty(self) -> bool:
        return len(self) == 0

    @property
    def es_dtype(self) -> str:
        """Engine-side type name (reference exposes the raw ES mapping
        type; here the Spark SQL type)."""
        return (self._spark_type or T.StringType()).simpleString()

    @property
    def es_field_name(self) -> str:
        try:
            return self._frame._schema.resolve(self._name)
        except KeyError:
            return self._name

    def es_info(self) -> str:
        return self._frame[[self._name]].es_info() if not self._is_derived else (
            f"derived column {self._name!r}: {self.es_dtype}"
        )

    def to_string(self, max_rows: int = 60) -> str:
        return self.head(max_rows).to_string()

    def to_numpy(self) -> None:
        """Not implemented, matching the reference's refusal: this would
        materialize the entire distributed column on the driver
        (eland/dataframe.py:2172-2213). Call ``.to_pandas().to_numpy()``
        explicitly if that is really wanted."""
        raise AttributeError(
            "This method would materialize the entire distributed column in "
            "driver memory. If explicitly required, call "
            "`.to_pandas().to_numpy()`."
        )

    # field record for schema registration
    def as_field(self) -> Field:
        return Field(
            display_name=self._name,
            column_name=self._name,
            spark_type=self._spark_type or T.StringType(),
            is_derived=True,
        )

    # -- pandas-style accessors (net-new: the reference exposes no
    #    str/dt accessor, SURVEY §2.10 — everything compiles to
    #    built-in Column expressions, shuffle-free) -------------------
    @property
    def str(self) -> "StrAccessor":
        return StrAccessor(self)

    @property
    def dt(self) -> "DtAccessor":
        return DtAccessor(self)

    @property
    def list(self) -> "ListAccessor":
        return ListAccessor(self)


class StrAccessor:
    """Vectorized string methods on a Series, pandas-shaped. Boolean
    outputs are filter-ready (push down to the scan)."""

    def __init__(self, s: Series):
        self._s = s

    def _d(self, expr: Column, t: T.DataType) -> Series:
        return self._s._derived(expr, t)

    def lower(self) -> Series:
        return self._d(F.lower(self._s._expr), T.StringType())

    def upper(self) -> Series:
        return self._d(F.upper(self._s._expr), T.StringType())

    def len(self) -> Series:
        return self._d(F.length(self._s._expr).cast("long"), T.LongType())

    def strip(self) -> Series:
        return self._d(F.trim(self._s._expr), T.StringType())

    def contains(self, pat: str, regex: bool = True, flags: int = 0) -> Series:
        e = self._s._expr
        expr = (
            e.rlike(self._java_pat(pat, flags)) if regex else e.contains(pat)
        )
        return self._d(expr, T.BooleanType())

    def startswith(self, prefix: str) -> Series:
        return self._d(self._s._expr.startswith(prefix), T.BooleanType())

    def endswith(self, suffix: str) -> Series:
        return self._d(self._s._expr.endswith(suffix), T.BooleanType())

    def replace(self, pat: str, repl: str, regex: bool = True) -> Series:
        """Known divergence: an EMPTY ``pat`` is a no-op here (Spark
        semantics), while Python/pandas insert ``repl`` between every
        character. No real workload replaces the empty string."""
        e = self._s._expr
        expr = (
            F.regexp_replace(e, pat, repl)
            if regex
            else F.replace(e, F.lit(pat), F.lit(repl))
        )
        return self._d(expr, T.StringType())

    def _slice_bound(self, bound: int | None, default: Column) -> Column:
        """Resolve one Python-slice endpoint against the per-row string
        length (0-based char offset, clamped to [0, len])."""
        n = F.length(self._s._expr)
        if bound is None:
            return default
        if bound < 0:
            return F.greatest(n + F.lit(bound), F.lit(0))
        return F.least(F.lit(bound), n)

    def slice(
        self, start: int | None = None, stop: int | None = None,
        step: int | None = None,
    ) -> Series:
        # start default must be None, not 0: equivalent for forward
        # slices, but slice(step=-1) starts at the END (pandas parity;
        # caught by the verify drive)
        """Python/pandas slice semantics ``s[start:stop:step]`` including
        negative endpoints: bounds resolve against the per-row length
        (``slice(-3)`` is the last 3 chars, ``slice(0, -1)`` drops the
        last char), empty when the resolved range is. ``step`` follows
        CPython ``slice.indices``: a stepped slice gathers the selected
        positions with one sequence+transform fold (no Python); step 1
        stays a single substring."""
        e = self._s._expr
        if step in (None, 1):
            i = self._slice_bound(start, F.lit(0))
            j = self._slice_bound(stop, F.length(e))
            return self._d(
                e.substr(i + F.lit(1), F.greatest(j - i, F.lit(0))),
                T.StringType(),
            )
        if step == 0:
            raise ValueError("slice step cannot be zero")
        n = F.length(e)

        def _clamp(bound, lo, hi):
            return F.greatest(lo, F.least(hi, bound))

        if step > 0:
            i = self._slice_bound(start, F.lit(0))
            j = self._slice_bound(stop, n)
            # inclusive sequence end: last selected position < j
            seq = F.when(
                j - 1 >= i, F.sequence(i, j - 1, F.lit(step))
            ).otherwise(F.array().cast("array<int>"))
        else:
            # CPython slice.indices for step < 0: bounds clamp to
            # [-1, n-1]; defaults start=n-1, stop=-1 (exclusive)
            def _res(bound, default):
                if bound is None:
                    return default
                b = F.lit(bound) + n if bound < 0 else F.lit(bound)
                return _clamp(b, F.lit(-1), n - 1)

            i = _res(start, n - 1)
            j = _res(stop, F.lit(-1))
            seq = F.when(
                i >= j + 1, F.sequence(i, j + 1, F.lit(step))
            ).otherwise(F.array().cast("array<int>"))
        picked = F.transform(seq, lambda p: e.substr(p + 1, F.lit(1)))
        out = F.when(e.isNotNull(), F.array_join(picked, ""))
        return self._d(out, T.StringType())

    def split(self, pat: str = r"\s+", n: int = -1) -> Series:
        """pandas ``str.split``: ``n >= 1`` limits to n splits, the
        remainder staying joined WITH its original separators (Spark's
        native ``limit`` has exactly those semantics); ``n <= 0`` means
        all splits (pandas: 0 and -1 both return all). A single-char
        ``pat`` is treated as a LITERAL separator (pandas' regex=None
        rule: ``split('.')`` splits on dots, not on every char);
        longer patterns stay regexes."""
        if len(pat) == 1:
            pat = re.escape(pat)
        limit = n + 1 if n >= 1 else -1
        return self._d(
            F.split(self._s._expr, pat, limit), T.ArrayType(T.StringType())
        )

    def rsplit(self, pat: str = r"\s+", n: int = -1) -> Series:
        """pandas ``str.rsplit``: like split, but with ``n >= 1`` the
        LAST ``n`` separators split and the head stays joined. Pure
        array expressions: full split, then the head slice re-joins.

        ``pat`` is a regex for full splits (``n <= 0``, mirroring
        ``.split``) but a LITERAL separator when ``n >= 1`` — pandas'
        own rsplit takes no regex, and a regex match loses the original
        matched text so the head could not be re-joined faithfully.
        ``n == 0`` returns all splits (pandas semantics; Python's
        ``str.rsplit(sep, 0)`` would return the unsplit string).
        """
        if n <= 0:
            # pandas: n=0 and n=-1 both mean "all splits"; same
            # single-char-literal rule as .split
            parts = F.split(
                self._s._expr, re.escape(pat) if len(pat) == 1 else pat
            )
            return self._d(parts, T.ArrayType(T.StringType()))
        # literal separator: escape for Java regex so the split and the
        # re-join agree on the separator text (re.escape never escapes
        # alphanumerics, so its output is valid Java regex too)
        parts = F.split(self._s._expr, re.escape(pat))
        sz = F.size(parts)
        head_n = F.greatest(sz - n, F.lit(1))
        head = F.array_join(F.slice(parts, 1, head_n), pat)
        tail = F.when(sz > head_n, F.slice(parts, head_n + 1, n)).otherwise(
            F.array().cast("array<string>")
        )
        return self._d(
            F.when(
                self._s._expr.isNotNull(), F.concat(F.array(head), tail)
            ),
            T.ArrayType(T.StringType()),
        )

    def partition(self, sep: str = " ") -> Series:
        """pandas ``str.partition`` (expand=False): 3-element array
        [head, sep, tail] split at the FIRST occurrence; no occurrence
        -> [whole, '', '']."""
        e = self._s._expr
        pos = F.locate(sep, e)
        found = F.array(
            F.substring(e, 1, pos - 1),
            F.lit(sep),
            F.substring(e, pos + len(sep), F.lit(1 << 30)),
        )
        return self._d(
            F.when(e.isNull(), F.lit(None).cast("array<string>"))
            .when(pos > 0, found)
            .otherwise(F.array(e, F.lit(""), F.lit(""))),
            T.ArrayType(T.StringType()),
        )

    def rpartition(self, sep: str = " ") -> Series:
        """pandas ``str.rpartition``: split at the LAST occurrence; no
        occurrence -> ['', '', whole]."""
        e = self._s._expr
        # after the last sep = substring_index(.., -1); head is the rest
        tail = F.substring_index(e, sep, -1)
        head = F.substring(
            e, 1, F.length(e) - F.length(tail) - len(sep)
        )
        return self._d(
            F.when(e.isNull(), F.lit(None).cast("array<string>"))
            .when(F.locate(sep, e) > 0, F.array(head, F.lit(sep), tail))
            .otherwise(F.array(F.lit(""), F.lit(""), e)),
            T.ArrayType(T.StringType()),
        )

    def _group_names(self, pat: str) -> list[str]:
        """Column labels for ``pat``'s capture groups: the group name
        where named, else the 0-based position as a string (pandas uses
        integer labels there; a Spark schema needs strings)."""
        compiled = re.compile(pat)
        by_pos = {v: k for k, v in compiled.groupindex.items()}
        return [
            by_pos.get(i + 1, str(i)) for i in range(compiled.groups)
        ]

    @staticmethod
    def _java_pat(pat: str, flags: int = 0) -> str:
        """Python named-group syntax ``(?P<name>...)`` -> Java's
        ``(?<name>...)`` (pandas accepts the Python spelling; the JVM
        regex engine rejects it); ``re`` module flags -> the inline
        ``(?imsx)`` prefix both engines understand."""
        out = re.sub(r"\(\?P<", "(?<", pat)
        inline = ""
        for flag, ch in ((re.IGNORECASE, "i"), (re.MULTILINE, "m"),
                         (re.DOTALL, "s"), (re.VERBOSE, "x")):
            if flags & flag:
                inline += ch
        return f"(?{inline}){out}" if inline else out

    def extract(self, pat: str, group: int | None = None, expand: bool = True,
                flags: int = 0):
        """pandas ``str.extract``: capture groups of the FIRST match.
        With one group and ``expand=False`` returns a Series; otherwise
        a DataFrame with one column per group (named groups keep their
        names, unnamed ones get their 0-based position as a string —
        pandas uses integer labels there). ``group=`` is the legacy
        single-group fast path (1-based, returns a Series). Known
        divergence: a participating group that matched the EMPTY string
        reads as null (Spark's regexp_extract cannot distinguish it
        from a non-participating group, which pandas reports as NaN)."""
        e = self._s._expr
        jpat = self._java_pat(pat, flags)
        if group is not None:
            g = F.regexp_extract(e, jpat, group)
            return self._d(F.when(g != "", g), T.StringType())
        names = self._group_names(pat)
        if not names:
            raise ValueError("pattern contains no capture groups")
        if len(names) == 1 and not expand:
            g = F.regexp_extract(e, jpat, 1)
            return self._d(F.when(g != "", g), T.StringType())
        from .frame import DataFrame as EDF

        parent = self._s._frame
        idx = [F.col(c) for c in parent._schema.index_cols]
        cols = []
        for i, name in enumerate(names):
            g = F.regexp_extract(e, jpat, i + 1)
            cols.append(F.when(g != "", g).alias(name))
        return EDF(
            parent._sdf.select(*idx, *cols),
            index_cols=parent._schema.index_cols,
        )

    def extractall(self, pat: str, flags: int = 0):
        """pandas ``str.extractall``: capture groups of EVERY
        non-overlapping match, one output row per match keyed by
        (index..., match) where ``match`` is the 0-based match number
        within the row. Rows without matches drop out (pandas
        semantics). One zero-shuffle posexplode over zipped
        regexp_extract_all arrays — no Python in the loop. Same
        empty-capture divergence as :meth:`extract`."""
        names = self._group_names(pat)
        if not names:
            raise ValueError("pattern contains no capture groups")
        from .frame import DataFrame as EDF

        e = self._s._expr
        parent = self._s._frame
        idx = [F.col(c) for c in parent._schema.index_cols]
        jpat = self._java_pat(pat, flags)
        zipped = F.arrays_zip(
            *[
                F.regexp_extract_all(e, F.lit(jpat), i + 1).alias(f"g{i}")
                for i in range(len(names))
            ]
        )
        exploded = parent._sdf.select(
            *idx, F.posexplode(zipped).alias("match", "__g__")
        )
        cols = []
        for i, name in enumerate(names):
            g = F.col("__g__").getField(f"g{i}")
            cols.append(F.when(g != "", g).alias(name))
        out = exploded.select(
            *[F.col(c) for c in parent._schema.index_cols],
            F.col("match").cast("long").alias("match"),
            *cols,
        )
        return EDF(
            out, index_cols=tuple(parent._schema.index_cols) + ("match",)
        )

    def count(self, pat: str, flags: int = 0) -> Series:
        """Non-overlapping regex match count (pandas ``str.count``)."""
        jp = self._java_pat(pat, flags)
        return self._d(
            F.size(F.regexp_extract_all(self._s._expr, F.lit(f"({jp})"), 1)).cast(
                "long"
            ),
            T.LongType(),
        )

    def translate(self, table: dict) -> Series:
        """pandas ``str.translate`` for the 1:1/deletion subset a
        ``str.maketrans`` table usually is: single-char-to-single-char
        mappings and ``None`` deletions compile to ONE JVM
        ``translate`` call (codegen, zero shuffle). Multi-char
        replacement strings raise — that shape needs a replace chain."""
        src, dst = [], []
        dels = []
        for k, v in table.items():
            ch = chr(k) if isinstance(k, int) else str(k)
            if len(ch) != 1:
                raise ValueError(f"translate keys must be single chars: {ch!r}")
            if v is None:
                dels.append(ch)
                continue
            sv = chr(v) if isinstance(v, int) else str(v)
            if len(sv) != 1:
                raise ValueError(
                    "translate supports 1:1 mappings and deletions only; "
                    f"got {ch!r} -> {sv!r} (use str.replace for multi-char)"
                )
            src.append(ch)
            dst.append(sv)
        # deletions go LAST: Spark translate drops chars with no
        # replacement position
        matching = "".join(src) + "".join(dels)
        replace = "".join(dst)
        return self._d(
            F.translate(self._s._expr, matching, replace), T.StringType()
        )

    def pad(self, width: int, side: str = "left", fillchar: str = " ") -> Series:
        e = self._s._expr
        if side == "left":
            expr = F.lpad(e, width, fillchar)
        elif side == "right":
            expr = F.rpad(e, width, fillchar)
        elif side == "both":
            # CPython str.center: extra fill goes LEFT only when both
            # the margin and the target width are odd (marg & width & 1)
            pad_total = F.lit(width) - F.length(e)
            extra_left = (pad_total % 2) * F.lit(width % 2)
            left_n = (F.floor(pad_total / 2) + extra_left).cast("int")
            right_n = (pad_total - left_n).cast("int")
            expr = F.concat(
                F.repeat(F.lit(fillchar), left_n), e, F.repeat(F.lit(fillchar), right_n)
            )
        else:
            raise ValueError("side must be left/right/both")
        # pandas never truncates values longer than width
        return self._d(
            F.when(F.length(e) >= width, e).otherwise(expr), T.StringType()
        )

    def zfill(self, width: int) -> Series:
        # CPython str.zfill: a leading '+'/'-' stays in front of the
        # inserted zeros ('-5'.zfill(4) == '-005'), unlike plain lpad.
        e = self._s._expr
        first = F.substring(e, 1, 1)
        has_sign = first.isin("+", "-")
        sign = F.when(has_sign, first).otherwise(F.lit(""))
        body = F.when(has_sign, F.substring(e, 2, 2147483647)).otherwise(e)
        pad_n = (F.lit(width) - F.length(e)).cast("int")
        padded = F.concat(sign, F.repeat(F.lit("0"), pad_n), body)
        return self._d(
            F.when(F.length(e) >= width, e).otherwise(padded), T.StringType()
        )

    def ljust(self, width: int, fillchar: str = " ") -> Series:
        return self.pad(width, side="right", fillchar=fillchar)

    def rjust(self, width: int, fillchar: str = " ") -> Series:
        return self.pad(width, side="left", fillchar=fillchar)

    def center(self, width: int, fillchar: str = " ") -> Series:
        return self.pad(width, side="both", fillchar=fillchar)

    def repeat(self, repeats: int) -> Series:
        return self._d(F.repeat(self._s._expr, repeats), T.StringType())

    def slice_replace(
        self, start: int | None = None, stop: int | None = None,
        repl: str | None = None,
    ) -> Series:
        """Replace ``s[start:stop]`` with ``repl`` — pandas semantics
        including negative/None bounds: both endpoints resolve against
        the per-row length, and when the resolved slice is EMPTY
        (start >= stop) pandas inserts at ``start`` instead of deleting
        backwards (``stop`` is clamped up to ``start``)."""
        e = self._s._expr
        n = F.length(e)
        i = self._slice_bound(start, F.lit(0))
        j = F.greatest(self._slice_bound(stop, n), i)
        return self._d(
            F.concat(
                e.substr(F.lit(1), i),
                F.lit(repl if repl is not None else ""),
                e.substr(j + F.lit(1), F.greatest(n - j, F.lit(0))),
            ),
            T.StringType(),
        )

    def get_dummies(self, sep: str = "|", limit: int = 256):
        """One-hot indicator frame (pandas ``str.get_dummies``): one
        tiny distinct pass discovers the category vocabulary (guarded
        by ``limit``), then a single projection emits 0/1 columns —
        no shuffle of the data. Values are split on ``sep`` first
        (single-category strings work unchanged)."""
        from .frame import DataFrame as EDF

        s = self._s
        frame = s._frame
        schema = frame._schema
        parts = F.filter(F.split(s._expr, re.escape(sep)), lambda t: t != "")
        vals = sorted(
            r["v"]
            for r in frame._sdf.select(F.explode(parts).alias("v"))
            .distinct()
            .collect()
            if r["v"] is not None
        )
        if len(vals) > limit:
            raise ValueError(
                f"get_dummies found {len(vals)} categories (> limit {limit})"
            )
        # Category strings become output column names verbatim; reject
        # collisions (Spark resolves names case-insensitively) with the
        # index columns or with each other before the select would raise
        # an opaque AnalysisException.
        lowered = [v.lower() for v in vals]
        if len(set(lowered)) != len(lowered):
            dupes = sorted({v for v in lowered if lowered.count(v) > 1})
            raise ValueError(
                f"get_dummies categories collide case-insensitively: {dupes}; "
                "normalize the column first"
            )
        idx_lower = {c.lower() for c in schema.index_cols}
        clash = sorted(v for v in vals if v.lower() in idx_lower)
        if clash:
            raise ValueError(
                f"get_dummies categories {clash} collide with index column "
                "names; rename the index or prefix the categories"
            )
        icols = [
            F.col(schema.resolve(c)).alias(c) for c in schema.index_cols
        ]
        dummies = [
            F.array_contains(parts, v).cast("int").alias(v) for v in vals
        ]
        return EDF(
            frame._sdf.select(*icols, *dummies),
            index_cols=tuple(schema.index_cols),
        )

    def cat(self, others=None, sep: str = "", na_rep: str | None = None) -> Series:
        """pandas ``str.cat`` with another Series/list of Series:
        elementwise concatenation with ``sep``; null propagates unless
        ``na_rep`` fills it (pandas semantics). One projection."""
        if others is None:
            raise NotImplementedError(
                "str.cat() without others reduces to the driver; use "
                "to_pandas().str.cat() on a bounded result instead"
            )
        cols = [self._s._expr]
        items = others if isinstance(others, (list, tuple)) else [others]
        for o in items:
            cols.append(o._expr if isinstance(o, Series) else F.lit(str(o)))
        if na_rep is not None:
            cols = [F.coalesce(c, F.lit(na_rep)) for c in cols]
            expr = F.concat_ws(sep, *cols)
        else:
            # concat propagates null (pandas default NaN result)
            parts: list[Column] = []
            for i, c in enumerate(cols):
                if i:
                    parts.append(F.lit(sep))
                parts.append(c)
            expr = F.concat(*parts)
        return self._d(expr, T.StringType())

    def findall(self, pat: str) -> Series:
        """All non-overlapping regex matches as an array (pandas
        ``str.findall``) — one JVM regexp_extract_all, no Python."""
        return self._d(
            F.regexp_extract_all(self._s._expr, F.lit(f"({pat})"), 1),
            T.ArrayType(T.StringType()),
        )

    def capitalize(self) -> Series:
        """First character upper, rest lower (CPython semantics)."""
        e = self._s._expr
        return self._d(
            F.concat(
                F.upper(e.substr(F.lit(1), F.lit(1))),
                F.lower(e.substr(F.lit(2), F.length(e))),
            ),
            T.StringType(),
        )

    _LOWER = "abcdefghijklmnopqrstuvwxyz"
    _UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

    def swapcase(self) -> Series:
        """ASCII case swap via ONE ``translate`` call (1:1 char map —
        the cheapest possible JVM path)."""
        return self._d(
            F.translate(
                self._s._expr, self._LOWER + self._UPPER, self._UPPER + self._LOWER
            ),
            T.StringType(),
        )

    def casefold(self) -> Series:
        """Caseless-match normalization (ASCII: same as lower)."""
        return self.lower()

    def removeprefix(self, prefix: str) -> Series:
        e = self._s._expr
        return self._d(
            F.when(
                e.startswith(prefix), e.substr(F.lit(len(prefix) + 1), F.length(e))
            ).otherwise(e),
            T.StringType(),
        )

    def removesuffix(self, suffix: str) -> Series:
        e = self._s._expr
        n = len(suffix)
        return self._d(
            F.when(
                e.endswith(suffix), F.substring(e, 1, F.length(e) - n)
            ).otherwise(e),
            T.StringType(),
        )

    def lstrip(self, chars: str | None = None) -> Series:
        e = self._s._expr
        if chars is None:
            return self._d(F.ltrim(e), T.StringType())
        cls = re.escape(chars)
        return self._d(
            F.regexp_replace(e, f"^[{cls}]+", ""), T.StringType()
        )

    def rstrip(self, chars: str | None = None) -> Series:
        e = self._s._expr
        if chars is None:
            return self._d(F.rtrim(e), T.StringType())
        cls = re.escape(chars)
        return self._d(
            F.regexp_replace(e, f"[{cls}]+$", ""), T.StringType()
        )

    def match(self, pat: str, flags: int = 0) -> Series:
        """True when the string STARTS with a regex match (pandas
        ``str.match``)."""
        jp = self._java_pat(pat, flags)
        return self._d(self._s._expr.rlike(f"^(?:{jp})"), T.BooleanType())

    def fullmatch(self, pat: str, flags: int = 0) -> Series:
        """True when the ENTIRE string matches (pandas
        ``str.fullmatch``)."""
        jp = self._java_pat(pat, flags)
        return self._d(self._s._expr.rlike(f"^(?:{jp})$"), T.BooleanType())

    def find(self, sub: str) -> Series:
        """0-based position of the first occurrence, -1 when absent."""
        return self._d(
            (F.instr(self._s._expr, sub) - 1).cast("long"), T.LongType()
        )

    def rfind(self, sub: str) -> Series:
        """0-based position of the LAST occurrence, -1 when absent —
        locate on the reversed pair, pure arithmetic, no loop."""
        e = self._s._expr
        pos = F.locate(sub[::-1], F.reverse(e))
        return self._d(
            F.when(pos == 0, F.lit(-1))
            .otherwise(F.length(e) - pos - F.lit(len(sub) - 1))
            .cast("long"),
            T.LongType(),
        )

    def index(self, sub: str) -> Series:
        """Like :meth:`find`. Divergence from pandas, documented: a
        lazy plan cannot raise per-row, so a missing substring yields
        -1 instead of ValueError."""
        return self.find(sub)

    def rindex(self, sub: str) -> Series:
        """Like :meth:`rfind`; same -1-instead-of-raise divergence as
        :meth:`index`."""
        return self.rfind(sub)

    def encode(self, encoding: str = "utf-8") -> Series:
        """String -> binary in the given charset (pandas
        ``str.encode``); JVM-side ``encode``, zero Python."""
        return self._d(
            F.encode(self._s._expr, encoding), T.BinaryType()
        )

    def decode(self, encoding: str = "utf-8") -> Series:
        """Binary -> string in the given charset (pandas
        ``str.decode``); JVM-side ``decode``, zero Python."""
        return self._d(
            F.decode(self._s._expr, encoding), T.StringType()
        )

    def normalize(self, form: str) -> Series:
        """Unicode normalization (pandas ``str.normalize``). No Spark
        builtin exists, so this is the one str method on the Arrow
        escape hatch: a vectorized pandas_udf (batch transfer, never
        row-at-a-time)."""
        if form not in ("NFC", "NFKC", "NFD", "NFKD"):
            raise ValueError(f"invalid normalization form {form!r}")

        @F.pandas_udf("string")
        def _norm(s: pd.Series) -> pd.Series:
            return s.str.normalize(form)

        return self._d(_norm(self._s._expr), T.StringType())

    def wrap(self, width: int, **kwargs) -> Series:
        """textwrap-based line wrapping (pandas ``str.wrap``). Same
        Arrow escape hatch as :meth:`normalize` — textwrap's
        greedy/hyphen rules are not expressible as a regex."""

        @F.pandas_udf("string")
        def _wrap(s: pd.Series) -> pd.Series:
            return s.str.wrap(width, **kwargs)

        return self._d(_wrap(self._s._expr), T.StringType())

    def get(self, i: int) -> Series:
        """Character at position ``i`` (negative from the end); out of
        range -> null like pandas."""
        e = self._s._expr
        if i >= 0:
            c = F.substring(e, i + 1, 1)
        else:
            c = F.when(F.length(e) >= -i, e.substr(F.length(e) + i + 1, F.lit(1)))
        return self._d(F.when(c != "", c), T.StringType())

    def _char_class(self, pat: str) -> Series:
        return self._d(self._s._expr.rlike(pat), T.BooleanType())

    # Unicode classes, like pandas/CPython (Java regex \p{..} maps:
    # isdecimal == Nd exactly, isnumeric == N exactly; isdigit adds the
    # super/subscript digits CPython's digit property includes — the
    # remaining No-with-digit tail (circled digits etc.) diverges)
    def isalpha(self) -> Series:
        return self._char_class(r"^\p{L}+$")

    def isdecimal(self) -> Series:
        return self._char_class(r"^\p{Nd}+$")

    def isdigit(self) -> Series:
        return self._char_class(
            "^[\\p{Nd}²³¹⁰⁴-⁹₀-₉]+$"
        )

    def isnumeric(self) -> Series:
        return self._char_class(r"^\p{N}+$")

    def isalnum(self) -> Series:
        return self._char_class(r"^[\p{L}\p{N}]+$")

    def isspace(self) -> Series:
        return self._char_class(r"^\s+$")

    def islower(self) -> Series:
        """At least one cased char and no uppercase (CPython rule)."""
        e = self._s._expr
        return self._d(e.rlike("[a-z]") & ~e.rlike("[A-Z]"), T.BooleanType())

    def isupper(self) -> Series:
        e = self._s._expr
        return self._d(e.rlike("[A-Z]") & ~e.rlike("[a-z]"), T.BooleanType())

    def istitle(self) -> Series:
        """CPython rule as three run-boundary conditions: at least one
        letter, uppercase never follows a letter, lowercase never
        starts a letter run."""
        e = self._s._expr
        return self._d(
            e.rlike("[A-Za-z]")
            & ~e.rlike("[A-Za-z][A-Z]")
            & ~e.rlike("(?:^|[^A-Za-z])[a-z]"),
            T.BooleanType(),
        )

    def title(self) -> Series:
        """Python/pandas titlecase: every letter run starts upper —
        including after digits/punctuation, where ``initcap`` would
        not. Letter/non-letter segments via regexp_extract_all + a
        transform HOF; all JVM-side."""
        parts = F.regexp_extract_all(
            self._s._expr, F.lit("([A-Za-z]+|[^A-Za-z]+)"), 1
        )
        titled = F.transform(
            parts,
            lambda p: F.when(
                p.rlike("^[A-Za-z]"),
                F.concat(
                    F.upper(p.substr(F.lit(1), F.lit(1))),
                    F.lower(p.substr(F.lit(2), F.length(p))),
                ),
            ).otherwise(p),
        )
        return self._d(
            F.when(
                self._s._expr.isNotNull(), F.array_join(titled, "")
            ),
            T.StringType(),
        )


class ListAccessor:
    """Array-column methods (the reference surfaces ES multi-valued
    fields as Python lists in object cells, SURVEY §1.3 — here they
    are real ArrayType columns with JVM-side element ops)."""

    def __init__(self, s: Series):
        self._s = s

    def _elem_type(self) -> T.DataType | None:
        st = self._s._spark_type
        return st.elementType if isinstance(st, T.ArrayType) else None

    def len(self) -> Series:
        return self._s._derived(
            F.size(self._s._expr).cast("long"), T.LongType()
        )

    def get(self, i: int) -> Series:
        """0-based element access, negative from the end; out-of-range
        -> null (F.get semantics, matching pandas' list accessor)."""
        e = self._s._expr
        idx = F.lit(i) if i >= 0 else F.size(e) + F.lit(i)
        return self._s._derived(F.get(e, idx), self._elem_type())

    def contains(self, value) -> Series:
        return self._s._bool(F.array_contains(self._s._expr, _lit(value)))

    def sum(self) -> Series:
        return self._s._derived(
            F.aggregate(
                self._s._expr,
                F.lit(0.0),
                lambda acc, x: acc + F.coalesce(x.cast("double"), F.lit(0.0)),
            ),
            T.DoubleType(),
        )

    def mean(self) -> Series:
        n = F.size(self._s._expr)
        return self._s._derived(
            F.when(n > 0, self.sum()._expr / n), T.DoubleType()
        )

    def sort(self, ascending: bool = True) -> Series:
        return self._s._derived(
            F.sort_array(self._s._expr, asc=ascending), self._s._spark_type
        )

    def unique(self) -> Series:
        return self._s._derived(
            F.array_distinct(self._s._expr), self._s._spark_type
        )

    def join(self, sep: str) -> Series:
        return self._s._derived(
            F.array_join(self._s._expr, sep), T.StringType()
        )


class DtAccessor:
    """Datetime component accessors (the reference handles dates only
    at the codec layer, SURVEY §2.10 — these are net-new)."""

    def __init__(self, s: Series):
        self._s = s

    def _d(self, expr: Column) -> Series:
        return self._s._derived(expr.cast("long"), T.LongType())

    @property
    def year(self) -> Series:
        return self._d(F.year(self._s._expr))

    @property
    def month(self) -> Series:
        return self._d(F.month(self._s._expr))

    @property
    def day(self) -> Series:
        return self._d(F.dayofmonth(self._s._expr))

    @property
    def hour(self) -> Series:
        return self._d(F.hour(self._s._expr))

    @property
    def minute(self) -> Series:
        return self._d(F.minute(self._s._expr))

    @property
    def dayofweek(self) -> Series:
        # pandas: Monday=0..Sunday=6; Spark dayofweek: Sunday=1..Saturday=7
        return self._d((F.dayofweek(self._s._expr) + 5) % 7)

    @property
    def date(self) -> Series:
        return self._s._derived(
            F.to_date(self._s._expr), T.DateType()
        )

    @property
    def second(self) -> Series:
        return self._d(F.second(self._s._expr))

    @property
    def quarter(self) -> Series:
        return self._d(F.quarter(self._s._expr))

    @property
    def dayofyear(self) -> Series:
        return self._d(F.dayofyear(self._s._expr))

    @property
    def week(self) -> Series:
        """ISO week number (pandas ``isocalendar().week`` /
        deprecated ``dt.week``)."""
        return self._d(F.weekofyear(self._s._expr))

    @property
    def days_in_month(self) -> Series:
        return self._d(F.dayofmonth(F.last_day(self._s._expr)))

    daysinmonth = days_in_month

    @property
    def is_month_start(self) -> Series:
        return self._s._derived(
            F.dayofmonth(self._s._expr) == 1, T.BooleanType()
        )

    @property
    def is_month_end(self) -> Series:
        e = self._s._expr
        return self._s._derived(
            F.to_date(e) == F.last_day(e), T.BooleanType()
        )

    @property
    def is_quarter_start(self) -> Series:
        e = self._s._expr
        return self._s._derived(
            (F.dayofmonth(e) == 1) & (F.month(e) % 3 == 1), T.BooleanType()
        )

    @property
    def is_year_start(self) -> Series:
        e = self._s._expr
        return self._s._derived(
            (F.dayofmonth(e) == 1) & (F.month(e) == 1), T.BooleanType()
        )

    def strftime(self, fmt: str) -> Series:
        """Format timestamps with a CPython strftime pattern — the
        common directives are translated to Spark's JDK pattern
        JVM-side (no Python per row)."""
        jdk = (
            fmt.replace("%Y", "yyyy").replace("%m", "MM").replace("%d", "dd")
            .replace("%H", "HH").replace("%M", "mm").replace("%S", "ss")
            .replace("%j", "DDD").replace("%y", "yy")
        )
        if "%" in jdk:
            raise ValueError(f"unsupported strftime directive in {fmt!r}")
        return self._s._derived(
            F.date_format(self._s._expr, jdk), T.StringType()
        )

    @property
    def weekday(self) -> Series:
        return self.dayofweek

    @property
    def day_of_week(self) -> Series:
        return self.dayofweek

    @property
    def day_of_year(self) -> Series:
        return self.dayofyear

    @property
    def microsecond(self) -> Series:
        e = self._s._expr
        return self._d(
            (F.unix_micros(e.cast("timestamp")) % 1_000_000).cast("int")
        )

    @property
    def is_leap_year(self) -> Series:
        y = F.year(self._s._expr)
        return self._s._derived(
            ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0),
            T.BooleanType(),
        )

    @property
    def is_quarter_end(self) -> Series:
        e = self._s._expr
        return self._s._derived(
            (F.to_date(e) == F.last_day(e)) & (F.month(e) % 3 == 0),
            T.BooleanType(),
        )

    @property
    def is_year_end(self) -> Series:
        e = self._s._expr
        return self._s._derived(
            (F.month(e) == 12) & (F.dayofmonth(e) == 31), T.BooleanType()
        )

    def day_name(self) -> Series:
        """English weekday name (pandas default locale)."""
        return self._s._derived(
            F.date_format(self._s._expr, "EEEE"), T.StringType()
        )

    def month_name(self) -> Series:
        return self._s._derived(
            F.date_format(self._s._expr, "MMMM"), T.StringType()
        )

    def ceil(self, freq: str) -> Series:
        """Round UP to a fixed frequency — exact epoch arithmetic;
        values already on the boundary stay put (pandas)."""
        secs = {"D": 86400, "H": 3600, "h": 3600, "T": 60, "min": 60,
                "S": 1, "s": 1}
        if freq not in secs:
            raise ValueError(f"unsupported ceil freq {freq!r}")
        n = secs[freq]
        e = self._s._expr
        us = F.unix_micros(e.cast("timestamp"))
        n_us = n * 1_000_000
        ceiled = us + ((n_us - us % n_us) % n_us)
        return self._s._derived(
            F.timestamp_micros(ceiled).cast(
                self._s._spark_type.simpleString()
            ),
            self._s._spark_type,
        )

    def round(self, freq: str) -> Series:
        """Round to the NEAREST fixed frequency, ties to even like
        pandas (which inherits numpy's banker's rounding on the
        half-period boundary)."""
        secs = {"D": 86400, "H": 3600, "h": 3600, "T": 60, "min": 60,
                "S": 1, "s": 1}
        if freq not in secs:
            raise ValueError(f"unsupported round freq {freq!r}")
        n_us = secs[freq] * 1_000_000
        e = self._s._expr
        us = F.unix_micros(e.cast("timestamp"))
        q = F.floor(us / n_us).cast("long")
        rem = us - q * n_us
        half = n_us // 2
        # ties (rem == half) go to the EVEN multiple
        up = (rem > half) | ((rem == half) & (q % 2 != 0))
        rounded = (q + F.when(up, 1).otherwise(0)) * n_us
        return self._s._derived(
            F.timestamp_micros(rounded).cast(
                self._s._spark_type.simpleString()
            ),
            self._s._spark_type,
        )

    def floor(self, freq: str) -> Series:
        """Truncate to a fixed frequency ('D', 'H'/'h', 'T'/'min',
        'S') — epoch arithmetic, exact for fixed-width units."""
        secs = {"D": 86400, "H": 3600, "h": 3600, "T": 60, "min": 60,
                "S": 1, "s": 1}
        if freq not in secs:
            raise ValueError(f"unsupported floor freq {freq!r}")
        n = secs[freq]
        e = self._s._expr
        floored = (F.unix_seconds(e.cast("timestamp")) / n).cast("long") * n
        return self._s._derived(
            F.timestamp_seconds(floored).cast(
                self._s._spark_type.simpleString()
            ),
            self._s._spark_type,
        )


def _re_escape(s: str) -> str:
    import re

    return re.escape(s)


class _Rolling:
    """Lazy rolling proxy returned by :meth:`Series.rolling` — each agg
    method compiles to one with_global_rolling plan and returns a lazy
    frame (index columns + ``rolling_<agg>``)."""

    def __init__(self, series: "Series", window: int, min_periods: int | None):
        self._series = series
        self._window = window
        self._min_periods = min_periods

    def _run(self, agg: str):
        from .frame import DataFrame as EDF
        from .operators.ranking import with_global_rolling

        base, icols = self._series._ordered_frame()
        out = with_global_rolling(
            base, icols, ["__val__"], self._window, [agg], self._min_periods
        )
        return EDF(
            out.select(
                *icols, F.col(f"__val____rolling_{agg}").alias(f"rolling_{agg}")
            ),
            index_cols=tuple(icols),
        )

    def sum(self):
        return self._run("sum")

    def mean(self):
        return self._run("mean")

    def min(self):
        return self._run("min")

    def max(self):
        return self._run("max")

    def count(self):
        return self._run("count")

    def std(self):
        return self._run("std")

    def var(self):
        return self._run("var")

    def skew(self):
        """pandas ``rolling().skew()`` — sample-adjusted G1 per
        window (needs >= 3 observations; all-equal windows give 0.0,
        mirroring pandas roll_skew)."""
        return self._run("skew")

    def kurt(self):
        """pandas ``rolling().kurt()`` — sample-adjusted excess G2 per
        window (needs >= 4 observations; all-equal windows give -3.0,
        mirroring pandas roll_kurt)."""
        return self._run("kurt")

    def quantile(self, q: float = 0.5, interpolation: str = "linear"):
        """pandas ``rolling().quantile(q)`` — the exact
        linear-interpolated percentile of each trailing window, on the
        windowless bucketed plan
        (operators/ranking.with_global_rolling_quantile). Only
        pandas' default ``interpolation='linear'`` is supported (it is
        what Spark's exact percentile aggregate computes)."""
        if interpolation != "linear":
            raise NotImplementedError(
                "rolling().quantile supports interpolation='linear' only"
            )
        from .frame import DataFrame as EDF
        from .operators.ranking import with_global_rolling_quantile

        base, icols = self._series._ordered_frame()
        out = with_global_rolling_quantile(
            base, icols, "__val__", self._window, q, self._min_periods
        )
        return EDF(
            out.select(*icols, "rolling_quantile"), index_cols=tuple(icols)
        )

    def median(self):
        """pandas ``rolling().median()`` — exact, via
        ``quantile(0.5)``; column lands as ``rolling_median``."""
        from .frame import DataFrame as EDF
        from .operators.ranking import with_global_rolling_quantile

        base, icols = self._series._ordered_frame()
        out = with_global_rolling_quantile(
            base, icols, "__val__", self._window, 0.5, self._min_periods
        )
        return EDF(
            out.select(
                *icols, F.col("rolling_quantile").alias("rolling_median")
            ),
            index_cols=tuple(icols),
        )

    def _run_binary(self, other: "Series", metric: str):
        from .frame import DataFrame as EDF
        from .operators.ranking import with_global_rolling_binary

        if other._frame._sdf is not self._series._frame._sdf:
            raise ValueError(
                f"rolling().{metric}(other) needs both Series on the "
                "same frame (pandas-style cross-frame index alignment "
                "is not supported; join the frames first)"
            )
        base, icols = self._series._ordered_frame()
        frame = self._series._frame
        key_cols = [
            F.col(frame._schema.resolve(c)).alias(c) for c in icols
        ]
        base2 = frame._sdf.select(
            *key_cols,
            self._series._expr.alias("__val__"),
            other._expr.alias("__oth__"),
        )
        out = with_global_rolling_binary(
            base2, icols, "__val__", "__oth__", self._window, metric,
            self._min_periods,
        )
        return EDF(
            out.select(*icols, f"rolling_{metric}"), index_cols=tuple(icols)
        )

    def corr(self, other: "Series"):
        """pandas ``rolling().corr(other)`` — Pearson over each window
        on pairwise-complete observations, both Series on the same
        frame. Windowless bucketed plan
        (operators/ranking.with_global_rolling_binary)."""
        return self._run_binary(other, "corr")

    def cov(self, other: "Series"):
        """pandas ``rolling().cov(other)`` — sample covariance (n-1)
        over each window on pairwise-complete observations."""
        return self._run_binary(other, "cov")

    def apply(self, fn, raw: bool = False):
        """pandas ``rolling().apply(fn)`` — arbitrary Python per
        window, one Arrow-batched applyInPandas over the bucketed
        padded frame (operators/ranking.with_global_rolling_apply);
        pandas' own rolling runs per bucket, so min_periods/raw
        semantics are exact. Returns a lazy frame (index +
        ``rolling_apply`` DOUBLE)."""
        from .frame import DataFrame as EDF
        from .operators.ranking import with_global_rolling_apply

        base, icols = self._series._ordered_frame()
        out = with_global_rolling_apply(
            base, icols, "__val__", self._window, fn,
            self._min_periods, raw=raw,
        )
        return EDF(
            out.select(*icols, "rolling_apply"), index_cols=tuple(icols)
        )


class _Expanding:
    """Lazy expanding proxy returned by :meth:`Series.expanding` — each
    agg compiles to one with_global_expanding plan (cumulative bucket
    combine) and returns a lazy frame (index + ``expanding_<agg>``)."""

    def __init__(self, series: "Series", min_periods: int):
        self._series = series
        self._min_periods = min_periods

    def _run(self, agg: str):
        from .frame import DataFrame as EDF
        from .operators.ranking import with_global_expanding

        base, icols = self._series._ordered_frame()
        out = with_global_expanding(
            base, icols, ["__val__"], [agg], self._min_periods
        )
        return EDF(
            out.select(
                *icols,
                F.col(f"__val____expanding_{agg}").alias(f"expanding_{agg}"),
            ),
            index_cols=tuple(icols),
        )

    def sum(self):
        return self._run("sum")

    def mean(self):
        return self._run("mean")

    def min(self):
        return self._run("min")

    def max(self):
        return self._run("max")

    def std(self):
        return self._run("std")

    def var(self):
        return self._run("var")

    def skew(self):
        """pandas ``expanding().skew()`` — sample-adjusted G1 over the
        running prefix (needs >= 3 observations; all-equal prefixes
        give 0.0, the pandas rolling-path convention)."""
        return self._run("skew")

    def kurt(self):
        """pandas ``expanding().kurt()`` — sample-adjusted excess G2
        over the running prefix (needs >= 4 observations; all-equal
        prefixes give -3.0, the pandas rolling-path convention)."""
        return self._run("kurt")

    def count(self):
        return self._run("count")


class _Ewm:
    """Lazy ``Series.ewm(...)`` proxy — see Series.ewm."""

    def __init__(self, series: Series, alpha, span, halflife, com, min_periods):
        self._s = series
        self._kw = dict(
            alpha=alpha, span=span, halflife=halflife, com=com,
            min_periods=min_periods,
        )

    def mean(self):
        """pandas ``ewm().mean()`` — column ``ewm``."""
        return self._run("mean", "ewm")

    def var(self):
        """pandas ``ewm().var()`` (adjust=True, bias=False) on the
        truncated-kernel bucket-overlap plan — column ``ewm_var``."""
        return self._run("var", "ewm_var")

    def std(self):
        """pandas ``ewm().std()`` — sqrt of :meth:`var`; column
        ``ewm_std``."""
        return self._run("std", "ewm_std")

    def _run(self, stat: str, name: str):
        from .frame import DataFrame as EDF
        from .operators.windowed import ewm_global

        base, icols = self._s._ordered_frame()
        out = ewm_global(base, icols, ["__val__"], stat=stat, **self._kw)
        return EDF(
            out.select(*icols, F.col("__val__").alias(name)),
            index_cols=tuple(icols),
        )
