"""Feature-engineering fit/transform operators (reference §2.7, F1-F10) as an
MLlib Pipeline — fit on train only, transform everything (the reference's
leakage discipline, src/feature/utils/data.py:669-673).

sklearn-parity decisions (SURVEY §7.4):
- F4 OneHotEncoder drop-*first*: sklearn drops the first category in
  lexicographic order; MLlib's OneHotEncoder drops the *last* index. We index
  with ``stringOrderType="alphabetDesc"`` so the alphabetically-first
  category lands at the highest index — dropLast then removes exactly
  sklearn's dropped category.
- F4 infrequent collapse (min_frequency=0.01,
  handle_unknown="infrequent_if_exist"): a custom Estimator computes the
  frequent set in ONE aggregation over all categorical columns, and its
  Model rewrites rare/unseen values to ``__infrequent__`` before indexing.
- F8 LabelEncoder parity: ``StringIndexer(stringOrderType="alphabetAsc")``
  (sklearn sorts labels lexicographically).
- F2 scaler: MLlib RobustScaler uses approximate quantiles
  (relativeError-bounded); exact-parity tests must set a tolerance.

Scale: every fit statistic here is a single aggregation job (imputer
medians, category frequencies, variances); transforms are narrow. The only
shuffles in a full fit are those aggregations.

Reference citations: F1 data.py:83-90, F2 data.py:50-64, F3 data.py:100-107,
F4 data.py:109-119, F5 data.py:231-234, F6 data.py:201-230, F7
data.py:166-259, F8 data.py:564-616, F9 data.py:669-683, F10
optimizer.py:461-515.
"""

from __future__ import annotations

from pyspark.ml import Estimator, Model, Pipeline, Transformer
from pyspark.ml.feature import (
    Imputer,
    MinMaxScaler,
    OneHotEncoder,
    RobustScaler,
    StandardScaler,
    StringIndexer,
    VarianceThresholdSelector,
    VectorAssembler,
)
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

INFREQUENT = "__infrequent__"
UNSPECIFIED = "Unspecified"


class CategoricalImputer(
    Transformer, DefaultParamsReadable, DefaultParamsWritable
):
    """F3: constant-fill categorical imputer (SimpleImputer(strategy=constant,
    fill_value="Unspecified")) — stateless, pure ``na.fill``.

    All state lives in MLlib Params (not plain attributes) so
    DefaultParamsWritable save/load round-trips faithfully — attributes
    outside Params silently vanish on load, turning the stage into a
    no-op."""

    inputCols = Param(
        Params._dummy(), "inputCols", "columns to constant-fill",
        typeConverter=TypeConverters.toListString,
    )
    fillValue = Param(
        Params._dummy(), "fillValue", "constant fill value",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self, inputCols=None, fillValue: str = UNSPECIFIED):
        super().__init__()
        self._set(inputCols=list(inputCols or []), fillValue=fillValue)

    def _transform(self, df: DataFrame) -> DataFrame:
        fill = self.getOrDefault(self.fillValue)
        return df.na.fill({c: fill for c in self.getOrDefault(self.inputCols)})


class InfrequentCollapserModel(Model, DefaultParamsReadable, DefaultParamsWritable):
    """Fitted side of F4's infrequent-category collapse: per column, values
    outside the frequent set → __infrequent__ (also covers unseen values at
    transform time = handle_unknown="infrequent_if_exist")."""

    frequentJson = Param(
        Params._dummy(), "frequentJson",
        "JSON {col: [frequent values]} — JSON-encoded so the fitted state "
        "survives DefaultParamsWritable save/load",
        typeConverter=TypeConverters.toString,
    )

    def __init__(self, frequent: dict[str, list[str]] | None = None):
        super().__init__()
        import json

        self._set(frequentJson=json.dumps(frequent or {}))

    @property
    def frequent(self) -> dict[str, list[str]]:
        import json

        return json.loads(self.getOrDefault(self.frequentJson))

    def _transform(self, df: DataFrame) -> DataFrame:
        out = df
        for c, keep in self.frequent.items():
            out = out.withColumn(
                c,
                F.when(F.col(c).isin(keep), F.col(c)).otherwise(F.lit(INFREQUENT)),
            )
        return out


class InfrequentCollapser(Estimator, DefaultParamsReadable, DefaultParamsWritable):
    """F4(a-b): learn the frequent-category set per column. ONE aggregation
    job for all columns (grouping-sets style union), not one per column,
    and no separate row count."""

    inputCols = Param(
        Params._dummy(), "inputCols", "categorical columns to collapse",
        typeConverter=TypeConverters.toListString,
    )
    minFrequency = Param(
        Params._dummy(), "minFrequency", "min category frequency fraction",
        typeConverter=TypeConverters.toFloat,
    )

    def __init__(self, inputCols=None, minFrequency: float = 0.01):
        super().__init__()
        self._set(inputCols=list(inputCols or []), minFrequency=minFrequency)

    def _fit(self, df: DataFrame) -> InfrequentCollapserModel:
        input_cols = self.getOrDefault(self.inputCols)
        stacked = df.selectExpr(
            "stack({}, {}) as (col_name, value)".format(
                len(input_cols),
                ", ".join(f"'{c}', cast(`{c}` as string)" for c in input_cols),
            )
        )
        # stack emits one row per (input row, column), null values
        # included, so each column's group counts sum to the row count:
        # the total comes from a window over the grouped frame, not a
        # second scan of df, and the filter stays in Spark so only the
        # frequent values reach the driver
        grouped = stacked.groupBy("col_name", "value").agg(
            F.count(F.lit(1)).alias("n")
        )
        cutoff = F.lit(self.getOrDefault(self.minFrequency)) * F.sum("n").over(
            Window.partitionBy("col_name")
        )
        counts = (
            grouped.withColumn("__cutoff", cutoff)
            .filter((F.col("n") >= F.col("__cutoff")) & F.col("value").isNotNull())
            .select("col_name", "value")
            .collect()
        )
        frequent: dict[str, list[str]] = {c: [] for c in input_cols}
        for r in counts:
            frequent[r["col_name"]].append(r["value"])
        return InfrequentCollapserModel(frequent)


class ParityStringIndexer(Estimator, DefaultParamsReadable, DefaultParamsWritable):
    """F4(c): alphabetDesc multi-column string indexer whose label set ALWAYS
    contains ``__infrequent__``.

    Fitting a plain ``StringIndexer`` on the collapsed frame breaks when NO
    training category fell below min_frequency: ``__infrequent__`` is then
    absent from the fit data, an unseen category at transform/serving time
    maps to index numLabels (handleInvalid='keep'), and the downstream
    OneHotEncoder (handleInvalid='error') throws. Building the
    ``StringIndexerModel`` directly from the observed labels ∪
    {__infrequent__} guarantees the unseen→__infrequent__ path is
    total, preserving the sklearn handle_unknown='infrequent_if_exist'
    contract.

    Label order: ``__infrequent__`` is pinned to index 0 and the frequent
    labels follow in alphabetDesc order, so the max index — the one OHE
    dropLast removes — is always the alphabetically-FIRST frequent
    category, exactly sklearn drop='first' (sklearn never drops its
    infrequent bucket either; it just places it last where we place it
    first — column order differs, dropped category and information
    don't).

    State lives in Params (not plain attributes) so an UNFITTED pipeline
    containing this estimator save/loads faithfully — attributes outside
    Params vanish on load and the stage would fit zero columns."""

    inputCols = Param(
        Params._dummy(), "inputCols", "string columns to index",
        typeConverter=TypeConverters.toListString,
    )
    outputCols = Param(
        Params._dummy(), "outputCols", "index output columns",
        typeConverter=TypeConverters.toListString,
    )

    def __init__(self, inputCols=None, outputCols=None):
        super().__init__()
        self._set(
            inputCols=list(inputCols or []), outputCols=list(outputCols or [])
        )

    def _fit(self, df: DataFrame):
        from pyspark.ml.feature import StringIndexerModel

        input_cols = self.getOrDefault(self.inputCols)
        output_cols = self.getOrDefault(self.outputCols)
        stacked = df.selectExpr(
            "stack({}, {}) as (col_name, value)".format(
                len(input_cols),
                ", ".join(f"'{c}', cast(`{c}` as string)" for c in input_cols),
            )
        )
        rows = (
            stacked.filter(F.col("value").isNotNull())
            .distinct()
            .collect()  # bounded: post-collapse ≤ 1/min_frequency + 1 per col
        )
        seen: dict[str, set[str]] = {c: set() for c in input_cols}
        for r in rows:
            seen[r["col_name"]].add(r["value"])
        # a ragged String[][]: from_arrays_of_labels pads every column's
        # labels to the longest with nulls, and OneHotEncoder fails on a
        # null label of a column with fewer levels than another
        gateway = df.sparkSession.sparkContext._gateway
        jstring = gateway.jvm.java.lang.String
        jlabels = gateway.new_array(jstring, len(input_cols), 0)
        for i, c in enumerate(input_cols):
            labels = [INFREQUENT] + sorted(seen[c] - {INFREQUENT}, reverse=True)
            jlabels[i] = StringIndexerModel._new_java_array(labels, jstring)
        model = StringIndexerModel._create_from_java_class(
            "org.apache.spark.ml.feature.StringIndexerModel", jlabels
        )
        return model.setInputCols(input_cols).setOutputCols(output_cols).setHandleInvalid("keep")


def build_preprocessing_stages(
    numeric_cols: list[str],
    categorical_cols: list[str],
    numeric_impute_strategy: str = "median",
    scaler: str = "robust",
    cat_fill_value: str = UNSPECIFIED,
    min_category_frequency: float = 0.01,
    variance_threshold: float = 0.05,
    output_col: str = "features",
) -> list:
    """F6/F7: the ColumnTransformer-equivalent stage list. Numeric side:
    impute → assemble → scale; categorical side: constant-fill → infrequent
    collapse → index (alphabetDesc) → OHE (dropLast = sklearn drop-first);
    then final assembly + variance selection. Either side may be empty
    (passthrough, data.py:216-230)."""
    stages: list = []
    assembled: list[str] = []

    if numeric_cols:
        imputed = [f"{c}__imp" for c in numeric_cols]
        stages.append(
            Imputer(
                strategy=numeric_impute_strategy,
                inputCols=numeric_cols,
                outputCols=imputed,
            )
        )
        stages.append(VectorAssembler(inputCols=imputed, outputCol="__num_vec"))
        scalers = {
            "robust": RobustScaler(inputCol="__num_vec", outputCol="__num_scaled"),
            "standard": StandardScaler(
                inputCol="__num_vec", outputCol="__num_scaled", withMean=True
            ),
            "minmax": MinMaxScaler(inputCol="__num_vec", outputCol="__num_scaled"),
        }
        if scaler in scalers:
            stages.append(scalers[scaler])
            assembled.append("__num_scaled")
        elif scaler in (None, "none"):
            assembled.append("__num_vec")
        else:
            raise ValueError(f"unknown scaler {scaler!r}")

    if categorical_cols:
        stages.append(CategoricalImputer(inputCols=categorical_cols, fillValue=cat_fill_value))
        stages.append(
            InfrequentCollapser(inputCols=categorical_cols, minFrequency=min_category_frequency)
        )
        indexed = [f"{c}__idx" for c in categorical_cols]
        encoded = [f"{c}__ohe" for c in categorical_cols]
        stages.append(
            ParityStringIndexer(inputCols=categorical_cols, outputCols=indexed)
        )
        stages.append(
            OneHotEncoder(inputCols=indexed, outputCols=encoded, dropLast=True)
        )
        assembled.extend(encoded)

    stages.append(VectorAssembler(inputCols=assembled, outputCol="__features_raw"))
    stages.append(
        VarianceThresholdSelector(
            featuresCol="__features_raw",
            outputCol=output_col,
            varianceThreshold=variance_threshold,
        )
    )
    return stages


def fit_label_indexer(df: DataFrame, label_col: str, output_col: str = "label"):
    """F8: sklearn-LabelEncoder-parity indexer (lexicographic order)."""
    return StringIndexer(
        inputCol=label_col, outputCol=output_col, stringOrderType="alphabetAsc"
    ).fit(df)


def positive_label_index(label_indexer_model, positive_label: str) -> int:
    """M9: never assume column 1 — locate the positive class through the
    fitted labels (reference optimizer.py:217-235)."""
    return list(label_indexer_model.labels).index(str(positive_label))


def recover_feature_names(fitted_pipeline_model, df: DataFrame, output_col: str = "features") -> list[str]:
    """F7 name recovery: post-OHE + selector feature names from ML attrs
    metadata (reference data.py:124-163's name extraction).

    The final assembler names the numeric block after its vector column:
    by slot behind a scaler, which writes no attributes
    (``__num_scaled_0``), else by imputed column
    (``__num_vec_c_acctbal__imp``). Both map back to the numeric input
    column, read off the ``__num_vec`` assembler (``c_acctbal``)."""
    transformed = fitted_pipeline_model.transform(df.limit(1))
    meta = transformed.schema[output_col].metadata
    attrs = meta.get("ml_attr", {}).get("attrs", {})
    named = []
    for group in attrs.values():
        named.extend(attrs_entry for attrs_entry in group)
    named.sort(key=lambda a: a["idx"])
    imputed = next(
        (
            stage.getInputCols()
            for stage in fitted_pipeline_model.stages
            if isinstance(stage, VectorAssembler) and stage.getOutputCol() == "__num_vec"
        ),
        [],
    )
    numeric = {}
    for i, c in enumerate(imputed):
        numeric[f"__num_scaled_{i}"] = numeric[f"__num_vec_{c}"] = c.removesuffix("__imp")
    names = [a.get("name", f"f{a['idx']}") for a in named]
    return [numeric.get(n, n) for n in names]


def build_full_pipeline(prep_stages: list, classifier) -> Pipeline:
    """F10: preprocessing + classifier in ONE PipelineModel for serving."""
    return Pipeline(stages=[*prep_stages, classifier])


def target_encode_table(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: int = 10,
) -> DataFrame:
    """F14: smoothed mean target encoding — the per-category encoding
    table ``enc(c) = (Σ_c y + m·prior) / (n_c + m)`` with
    ``prior = Σy / N`` (the classic empirical-Bayes shrinkage toward the
    global mean; high-cardinality categoricals shrink hard where support
    is thin). Returns (category, n, target_enc); join it back on
    ``cat_col`` to apply (fit on train only — same leakage discipline as
    every estimator in this module).

    Engine-exact: per-class and global sums are DECIMAL (exact), counts
    are integers, and the encode expression is a FIXED chain of
    correctly-rounded double ops (cast, one multiply, one add, one
    divide) evaluated identically by any IEEE engine. The global totals
    come from a window over the ≤|categories|-row grouped frame, so the
    fact table is scanned ONCE.
    """
    g = df.groupBy(F.col(cat_col)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(target_col).cast("decimal(18,4)")).alias("sum_t"),
    )
    w = Window.partitionBy()
    t = g.withColumn("g_n", F.sum("n").over(w)).withColumn(
        "g_sum", F.sum("sum_t").over(w)
    )
    prior = F.col("g_sum").cast("double") / F.col("g_n").cast("double")
    enc = (F.col("sum_t").cast("double") + F.lit(float(smoothing)) * prior) / (
        F.col("n").cast("double") + F.lit(float(smoothing))
    )
    return t.select(
        cat_col,
        F.col("n").cast("long").alias("n"),
        enc.alias("target_enc"),
    )
