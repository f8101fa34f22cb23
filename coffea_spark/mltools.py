"""Batch ML inference wrappers.

Reference: ml_tools/helper.py:10-386 — awkward->numpy marshalling plus
lazily-constructed non-serializable model handles loaded once per worker
(nonserializable_attribute), with torch/tf/xgboost/triton front-ends.

Spark shape: an Arrow-batched pandas UDF whose closure carries only a
picklable LOADER; the model itself is constructed once per executor
process on first use and cached in a process-global — the exact
worker-side-lazy-load pattern the reference implements by hand. Framework
wrappers are import-gated: this container ships none of them, so they
raise a clear ImportError at construction, while the numpy-functional
path (and therefore the whole mechanism) is fully testable.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MODEL_CACHE: dict[str, object] = {}


class BatchInferencer:
    """Vectorized inference over one or more array/scalar columns.

    ``loader() -> model`` runs once per executor process (cached by
    ``name``); ``predict(model, *numpy_arrays) -> numpy_array`` runs per
    Arrow batch. Columns of ArrayType arrive as object-dtype Series of
    lists and are stacked to 2-D; scalar columns pass through 1-D.
    """

    def __init__(
        self,
        name: str,
        loader: Callable[[], object],
        predict: Callable[..., np.ndarray],
        output_type: T.DataType = T.DoubleType(),
    ):
        self.name = name
        self.loader = loader
        self.predict = predict
        self.output_type = output_type

    def udf(self):
        name, loader, predict = self.name, self.loader, self.predict

        @F.pandas_udf(self.output_type)
        def infer(*cols: pd.Series) -> pd.Series:
            model = _MODEL_CACHE.get(name)
            if model is None:
                model = loader()
                _MODEL_CACHE[name] = model
            arrays = []
            for s in cols:
                if len(s) and isinstance(s.iloc[0], (list, np.ndarray)):
                    arrays.append(np.stack(s.map(np.asarray).to_numpy()))
                else:
                    arrays.append(s.to_numpy())
            out = predict(model, *arrays)
            out = np.asarray(out)
            if out.ndim > 1:
                return pd.Series(list(out))
            return pd.Series(out)

        return infer

    def __call__(self, *cols: Column) -> Column:
        return self.udf()(*cols)


def numpy_mlp_wrapper(model_path: str, name: str = "numpy-mlp") -> BatchInferencer:
    """A REAL model artifact through the real loader path: a pure-numpy
    MLP (relu hidden + sigmoid head) whose weights live in an ``.npz``
    file — ``W1 (d,h)``, ``b1 (h)``, ``W2 (h)``, ``b2 ()``. Exercises
    the same load-once-per-executor mechanism as the framework wrappers
    (reference ml_tools/helper.py:10-386 nonserializable_attribute;
    torch/xgboost need their runtimes, this one needs only numpy), so
    inference-by-loaded-weights is tested live, not just import-gated."""

    def load():
        z = np.load(model_path)
        return z["W1"], z["b1"], z["W2"], z["b2"]

    def predict(model, X):
        W1, b1, W2, b2 = model
        h = np.maximum(X @ W1 + b1, 0.0)
        return 1.0 / (1.0 + np.exp(-(h @ W2 + float(b2))))

    return BatchInferencer(name, load, predict)


def torch_wrapper(
    model_path: str, name: str = "torch-model", *, backend=None
) -> BatchInferencer:
    """TorchScript inference through the BatchInferencer protocol
    (reference ml_tools/torch_wrapper.py:14): the model loads ONCE per
    executor via ``backend.jit.load``, each Arrow batch's numpy columns
    cross into tensors with ``backend.from_numpy`` and back with
    ``.detach().numpy()``.

    ``backend`` injects a torch-compatible module — tests drive the
    full Spark protocol (per-executor cache, Arrow marshaling, output
    reshaping) with a numpy fake since this container has no torch
    wheel; omitted, the real torch imports (ImportError when absent)."""
    if backend is None:
        try:
            import torch as backend  # noqa: F811
        except ImportError:
            raise ImportError(
                "torch not installed; torch_wrapper mirrors BatchInferencer "
                "with loader=torch.jit.load(model_path) — pass backend= to "
                "inject a torch-compatible module"
            )
    t = backend
    return BatchInferencer(
        name,
        lambda: t.jit.load(model_path),
        lambda m, *xs: np.asarray(
            m(*[t.from_numpy(x) for x in xs]).detach().numpy()
        ),
    )


def xgboost_wrapper(
    model_path: str, name: str = "xgb-model", *, backend=None
) -> BatchInferencer:
    """Booster inference through BatchInferencer (reference
    ml_tools/xgboost_wrapper.py:14): load_model once per executor,
    predict over a DMatrix per Arrow batch. ``backend`` injects an
    xgboost-compatible module for protocol tests (no wheel here); the
    pure-numpy XGBoost-JSON path (:func:`gbdt_wrapper`) covers real
    ensembles without the runtime."""
    if backend is None:
        try:
            import xgboost as backend  # noqa: F811
        except ImportError:
            raise ImportError(
                "xgboost not installed; xgboost_wrapper mirrors "
                "BatchInferencer with loader=xgboost.Booster("
                "model_file=model_path) — gbdt_wrapper runs the JSON "
                "dumps without the wheel, or pass backend="
            )
    xgb = backend

    def load():
        booster = xgb.Booster()
        booster.load_model(model_path)
        return booster

    return BatchInferencer(
        name, load, lambda m, x: np.asarray(m.predict(xgb.DMatrix(x)))
    )


def triton_wrapper(
    url: str, model: str, name: str = "triton-model", *, client_factory=None
) -> BatchInferencer:
    """Remote inference-server scoring through BatchInferencer
    (reference ml_tools/triton_wrapper.py:19): one client per executor,
    each Arrow batch's stacked numpy inputs POSTed as one inference
    request. ``client_factory(url, model)`` must return an object with
    ``infer(*arrays) -> np.ndarray`` — tests inject a fake server to
    drive the whole Spark path; omitted, the real tritonclient imports
    (ImportError when absent, as in this container)."""
    if client_factory is None:
        try:
            import tritonclient.http  # noqa: F401
        except ImportError:
            raise ImportError(
                "tritonclient not installed; triton_wrapper wraps "
                "BatchInferencer with an HTTP predict callable against "
                f"{url}/{model} — pass client_factory= to inject one"
            )

        def client_factory(u, m):  # noqa: F811 — real-runtime branch
            import tritonclient.http as _http

            client = _http.InferenceServerClient(url=u)

            class _Client:
                def infer(self, *arrays):
                    inputs = []
                    for i, a in enumerate(arrays):
                        ti = _http.InferInput(f"INPUT{i}", list(a.shape), "FP32")
                        ti.set_data_from_numpy(a.astype(np.float32))
                        inputs.append(ti)
                    res = client.infer(m, inputs)
                    return res.as_numpy("OUTPUT0")

            return _Client()

    return BatchInferencer(
        name,
        lambda: client_factory(url, model),
        lambda c, *xs: np.asarray(c.infer(*xs)),
    )


def gbdt_load_json(model_path: str) -> dict:
    """Load an XGBoost-format JSON model dump (the official
    ``Booster.save_model("*.json")`` layout, public schema
    doc/model.schema) into plain numpy arrays — no xgboost wheel needed.

    Reads ``learner.gradient_booster.model.trees[*]`` flat node arrays:
    ``left_children`` / ``right_children`` (-1 marks a leaf),
    ``split_indices`` (feature id), ``split_conditions`` (threshold for
    internal nodes; the node's OUTPUT VALUE for leaves — XGBoost stores
    both in one union field), ``default_left`` (missing-value routing).
    ``objective.name`` selects the output transform
    (``binary:logistic`` -> sigmoid, anything else -> identity).

    ``learner_model_param.base_score`` is stored in PROBABILITY space
    for logistic objectives (XGBoost applies ProbToMargin = logit at
    load; a real ``Booster.save_model`` file with the default 0.5 — or
    any 2.x boost-from-average value — means margin bias logit(p), not
    p). This loader performs the same conversion and rejects a
    logistic base_score outside (0, 1), which XGBoost itself would
    never write. Non-logistic objectives use base_score as the raw
    margin bias unchanged.

    Reference semantics: ml_tools/xgboost_wrapper.py:14-60 wraps a live
    Booster; this loader covers the standard quality-classifier
    inference stage (GBDT over cheap text statistics) with the model as
    data, evaluated as vectorized numpy in the same BatchInferencer
    Arrow path.
    """
    import json

    with open(model_path) as fh:
        blob = json.load(fh)
    learner = blob["learner"]
    trees = []
    for t in learner["gradient_booster"]["model"]["trees"]:
        trees.append(
            {
                "left": np.asarray(t["left_children"], dtype=np.int64),
                "right": np.asarray(t["right_children"], dtype=np.int64),
                "feat": np.asarray(t["split_indices"], dtype=np.int64),
                "cond": np.asarray(t["split_conditions"], dtype=np.float64),
                "default_left": np.asarray(t["default_left"], dtype=bool),
            }
        )
    objective = learner["objective"]["name"]
    base_score = float(learner["learner_model_param"]["base_score"])
    if objective == "binary:logistic":
        if not 0.0 < base_score < 1.0:
            raise ValueError(
                "gbdt_load_json: binary:logistic base_score must be a "
                f"probability in (0, 1), got {base_score!r} — XGBoost "
                "stores it in probability space and logits it at load"
            )
        base_score = math.log(base_score / (1.0 - base_score))
    return {
        "trees": trees,
        "base_score": base_score,
        "objective": objective,
        "num_feature": int(learner["learner_model_param"]["num_feature"]),
    }


def _check_feature_count(model: dict, got: int) -> None:
    """Fail loud (the reference's xgboost_wrapper.validate_numpy_input
    check, ml_tools/xgboost_wrapper.py) instead of a cryptic executor
    IndexError when the caller wires the wrong number of features."""
    want = model.get("num_feature")
    if want is not None and got != int(want):
        raise ValueError(
            f"GBDT model expects {int(want)} features, got {got}"
        )


def gbdt_margin(model: dict, X: np.ndarray) -> np.ndarray:
    """Vectorized ensemble evaluation: every row walks every tree with
    numpy level-synchronous descent (one vector step per tree LEVEL,
    not per row — depth-d trees finish in d vector ops regardless of
    batch size). Missing features (NaN) route via ``default_left``;
    the decision rule is XGBoost's ``x < threshold -> left``."""
    X = np.asarray(X, dtype=np.float64)
    if X.ndim != 2:
        raise ValueError(
            "gbdt_margin expects a 2-D feature matrix of shape "
            f"(n_rows, n_features); got ndim={X.ndim} shape={X.shape}"
        )
    _check_feature_count(model, X.shape[1])
    n = X.shape[0]
    out = np.full(n, model["base_score"], dtype=np.float64)
    rows = np.arange(n)
    for t in model["trees"]:
        left, right = t["left"], t["right"]
        feat, cond, dleft = t["feat"], t["cond"], t["default_left"]
        nid = np.zeros(n, dtype=np.int64)
        while True:
            internal = left[nid] != -1
            if not internal.any():
                break
            x = X[rows, feat[nid]]
            miss = np.isnan(x)
            go_left = np.where(miss, dleft[nid], x < cond[nid])
            nxt = np.where(go_left, left[nid], right[nid])
            nid = np.where(internal, nxt, nid)
        out += cond[nid]  # leaf value lives in the split_conditions union
    return out


def gbdt_predict(model: dict, X: np.ndarray) -> np.ndarray:
    """Margin + output transform (sigmoid for binary:logistic)."""
    m = gbdt_margin(model, X)
    if model["objective"] == "binary:logistic":
        return 1.0 / (1.0 + np.exp(-m))
    return m


def gbdt_wrapper(model_path: str, name: str = "gbdt-model") -> BatchInferencer:
    """GBDT inference as a BatchInferencer: the JSON dump is loaded ONCE
    per executor process (the reference's nonserializable_attribute
    pattern, ml_tools/helper.py:10-386), each Arrow batch of feature
    columns is column-stacked and scored with :func:`gbdt_margin` —
    pure numpy, no xgboost runtime on the workers."""

    def predict(model, *cols):
        X = np.column_stack([np.asarray(c, dtype=np.float64) for c in cols])
        return gbdt_predict(model, X)

    return BatchInferencer(name, lambda: gbdt_load_json(model_path), predict)


def gbdt_predict_column(model: dict, feature_cols: list[str]) -> Column:
    """Scan-stage GBDT inference as a PURE COLUMN EXPRESSION (no UDF):
    each tree becomes a nested F.when chain — for small ensembles
    (quality-classifier scale, <= a few hundred nodes) this stays
    inside whole-stage codegen, the zero-overhead path; large ensembles
    should use :func:`gbdt_wrapper` (Arrow-batched numpy) instead.
    Same decision rule as :func:`gbdt_margin` (x < thr -> left), and
    the same missing-value routing: NULL/NaN features follow
    ``default_left`` — all three inference paths (numpy / column /
    SQL) agree on missing inputs."""
    _check_feature_count(model, len(feature_cols))

    def case(t, nid: int) -> Column:
        if t["left"][nid] == -1:
            return F.lit(float(t["cond"][nid]))
        f = F.col(feature_cols[int(t["feat"][nid])]).cast("double")
        dflt = case(t, int(t["left"][nid] if t["default_left"][nid] else t["right"][nid]))
        return (
            F.when(f.isNull() | F.isnan(f), dflt)
            .when(f < F.lit(float(t["cond"][nid])), case(t, int(t["left"][nid])))
            .otherwise(case(t, int(t["right"][nid])))
        )

    margin = F.lit(float(model["base_score"]))
    for t in model["trees"]:
        margin = margin + case(t, 0)
    if model["objective"] == "binary:logistic":
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return margin


def gbdt_sql_expr(model: dict, feature_exprs: list[str]) -> str:
    """ANSI-SQL replay of the ensemble (oracle/codegen path): one nested
    CASE chain per tree, summed with the base margin; sigmoid for
    binary:logistic. ``feature_exprs[i]`` is the SQL text of feature i.
    NULL/NaN features follow ``default_left`` (``isnan`` exists in both
    Spark SQL and DuckDB), matching :func:`gbdt_margin` and
    :func:`gbdt_predict_column` exactly on missing inputs."""
    _check_feature_count(model, len(feature_exprs))

    def case(t, nid: int) -> str:
        if t["left"][nid] == -1:
            return repr(float(t["cond"][nid]))
        f = feature_exprs[int(t["feat"][nid])]
        c = repr(float(t["cond"][nid]))
        l = case(t, int(t["left"][nid]))
        r = case(t, int(t["right"][nid]))
        d = l if t["default_left"][nid] else r
        return (
            f"(CASE WHEN ({f}) IS NULL OR isnan(CAST(({f}) AS DOUBLE)) THEN {d} "
            f"WHEN ({f}) < ({c}) THEN {l} ELSE {r} END)"
        )

    margin = " + ".join(case(t, 0) for t in model["trees"])
    margin = f"(({margin}) + ({model['base_score']!r}))"
    if model["objective"] == "binary:logistic":
        return f"(1.0 / (1.0 + exp(-{margin})))"
    return margin


def tree_train(
    df,
    feature_cols: list[str],
    label_col: str,
    max_depth: int = 2,
    n_bins: int = 16,
) -> dict:
    """Histogram-based greedy CART training, Spark-first (the recipe
    Spark MLlib's own DecisionTree uses: per tree LEVEL, one
    aggregation pass builds (node, feature, bin) class histograms,
    the driver picks argmax-gini-gain splits over that tiny table, and
    split decisions feed back as literal CASE expressions). The corpus
    is scanned ``max_depth + 1`` times total (one min/max pass + one
    histogram pass per level); nothing row-sized ever reaches the
    driver — the collected histogram is <= nodes * features * bins
    rows of counts.

    Determinism contract (what makes the gate oracle possible): bins
    are a UNIFORM grid over the global [min, max] (not quantile
    sketches), tie-breaks order by (gain DESC, feature index, bin), and
    every float op (bin index, gini gain) is the same IEEE expression
    DuckDB evaluates — so an independent SQL replay grows the identical
    tree. Labels are binary {0,1}; leaf value = positive fraction.

    Returns the model in :func:`gbdt_load_json` form (one tree,
    ``reg:squarederror`` objective, leaf values in the
    ``split_conditions`` union field), so :func:`gbdt_margin` /
    :func:`gbdt_wrapper` / :func:`gbdt_sql_expr` run inference and
    oracle generation unchanged.
    """
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    feats = [F.col(c).cast("double") for c in feature_cols]
    y = F.col(label_col).cast("double")
    cond = y.isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).cast("double").isNotNull()
    df = df.filter(cond)

    row = df.agg(
        *[m for c in feats for m in (F.min(c), F.max(c))],
        F.sum((~y.isin(0.0, 1.0)).cast("long")).alias("_bad_labels"),
    ).collect()[0]
    if row[0] is None:
        raise ValueError(
            "tree_train: no rows with non-null label and features "
            f"(label={label_col!r}, features={feature_cols!r})"
        )
    if int(row["_bad_labels"] or 0):
        raise ValueError(
            f"tree_train: labels must be binary {{0, 1}} — "
            f"{int(row['_bad_labels'])} row(s) of {label_col!r} are not "
            "(gini histograms and positive-fraction leaves assume it)"
        )
    lims = [(float(row[2 * i]), float(row[2 * i + 1])) for i in range(len(feats))]

    def bin_col(i: int):
        lo, hi = lims[i]
        if hi <= lo:  # constant feature: everything in bin 0
            return F.lit(0)
        raw = F.floor((feats[i] - F.lit(lo)) * F.lit(float(n_bins)) / F.lit(hi - lo))
        return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int")

    bins = [bin_col(i).alias(f"_b{i}") for i in range(len(feats))]
    base = df.select(*bins, y.alias("_y"))

    def gini_gain(n, pos, nl, posl):
        nr, posr = n - nl, pos - posl
        if nl == 0 or nr == 0:
            return None

        def gini(nn, pp):
            p = pp / nn
            q = (nn - pp) / nn
            return 1.0 - p * p - q * q

        return gini(n, pos) - (nl / n) * gini(nl, posl) - (nr / n) * gini(nr, posr)

    # nodes: id -> dict(feat, thr_bin, left, right) or dict(leaf=value)
    # node 0 = root; frontier holds (node_id, path) where path is a list
    # of (feature, bin, go_left) constraints defining the node's rows
    nodes: dict[int, dict] = {}
    frontier = [(0, [])]
    next_id = 1
    for _ in range(max_depth):
        if not frontier:
            break
        # row -> frontier node id (rows outside the frontier -> -1)
        nid = F.lit(-1)
        for node_id, path in frontier:
            c = F.lit(True)
            for fi, b, go_left in path:
                c = c & (
                    (F.col(f"_b{fi}") <= F.lit(b))
                    if go_left
                    else (F.col(f"_b{fi}") > F.lit(b))
                )
            nid = F.when(c, F.lit(node_id)).otherwise(nid)
        aggs = []
        for i in range(len(feats)):
            for b in range(n_bins):
                hit = F.col(f"_b{i}") == F.lit(b)
                aggs.append(F.sum(hit.cast("long")).alias(f"n_{i}_{b}"))
                aggs.append(F.sum(F.when(hit, F.col("_y"))).alias(f"p_{i}_{b}"))
        hist = {
            r["_node"]: r
            for r in base.groupBy(nid.alias("_node")).agg(*aggs).collect()
        }
        new_frontier = []
        for node_id, path in frontier:
            r = hist.get(node_id)
            if r is None:  # no rows reached this node
                nodes[node_id] = {"leaf": 0.0}
                continue
            n = sum(int(r[f"n_0_{b}"]) for b in range(n_bins))
            pos = sum(float(r[f"p_0_{b}"] or 0.0) for b in range(n_bins))
            if n == 0 or pos == 0.0 or pos == float(n):
                nodes[node_id] = {"leaf": pos / n if n else 0.0}
                continue
            best = None  # (gain, fi, b, nl, posl)
            for i in range(len(feats)):
                nl = 0
                posl = 0.0
                for b in range(n_bins - 1):
                    nl += int(r[f"n_{i}_{b}"])
                    posl += float(r[f"p_{i}_{b}"] or 0.0)
                    g = gini_gain(n, pos, nl, posl)
                    if g is not None and g > 0 and (best is None or g > best[0]):
                        best = (g, i, b, nl, posl)
            if best is None:
                nodes[node_id] = {"leaf": pos / n}
                continue
            _, fi, b, nl, posl = best
            lo, hi = lims[fi]
            # rows with bin <= b go left: threshold = lower edge of bin b+1
            thr = lo + (b + 1) * (hi - lo) / n_bins
            l_id, r_id = next_id, next_id + 1
            next_id += 2
            nodes[node_id] = {"feat": fi, "thr": thr, "left": l_id, "right": r_id}
            new_frontier.append((l_id, path + [(fi, b, True)]))
            new_frontier.append((r_id, path + [(fi, b, False)]))
        frontier = new_frontier
    # leftover frontier nodes at max depth become leaves: one last
    # counting pass over just those nodes
    if frontier:
        nid = F.lit(-1)
        for node_id, path in frontier:
            c = F.lit(True)
            for fi, b, go_left in path:
                c = c & (
                    (F.col(f"_b{fi}") <= F.lit(b))
                    if go_left
                    else (F.col(f"_b{fi}") > F.lit(b))
                )
            nid = F.when(c, F.lit(node_id)).otherwise(nid)
        rows = (
            base.groupBy(nid.alias("_node"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("_y").alias("pos"))
            .collect()
        )
        stats = {r["_node"]: (int(r["n"]), float(r["pos"] or 0.0)) for r in rows}
        for node_id, _ in frontier:
            n, pos = stats.get(node_id, (0, 0.0))
            nodes[node_id] = {"leaf": pos / n if n else 0.0}

    # flatten to gbdt arrays (node ids are already BFS-dense)
    size = max(nodes) + 1
    left = np.full(size, -1, dtype=np.int64)
    right = np.full(size, -1, dtype=np.int64)
    feat = np.zeros(size, dtype=np.int64)
    condv = np.zeros(size, dtype=np.float64)
    for node_id, nd in nodes.items():
        if "leaf" in nd:
            condv[node_id] = nd["leaf"]
        else:
            left[node_id] = nd["left"]
            right[node_id] = nd["right"]
            feat[node_id] = nd["feat"]
            condv[node_id] = nd["thr"]
    tree = {
        "left": left,
        "right": right,
        "feat": feat,
        "cond": condv,
        "default_left": np.ones(size, dtype=bool),
    }
    return {
        "trees": [tree],
        "base_score": 0.0,
        "objective": "reg:squarederror",
        "num_feature": len(feature_cols),
    }


def gbdt_train(
    df,
    feature_cols: list[str],
    label_col: str,
    n_rounds: int = 3,
    lr: float = 0.5,
    n_bins: int = 8,
) -> dict:
    """Distributed GRADIENT BOOSTING (squared error, depth-1 stumps):
    each round fits one stump to the current residuals with a single
    (feature, bin) histogram aggregation — count + residual sum per
    cell, features x bins x 2 agg expressions, map-side combined — the
    driver argmaxes the variance-reduction gain
    (sl^2/nl + sr^2/nr - s^2/n, needing only the sums the histogram
    already carries), and the new stump's contribution feeds the next
    round's residual expression as literals. K rounds = K corpus
    passes; nothing row-sized reaches the driver.

    Determinism contract (what makes the gate oracle possible):
    residuals are QUANTIZED to 6 decimals and accumulated as
    DECIMAL(28,6) — exact in both Spark and DuckDB regardless of
    partitioning/association order (the NUMERICS.md rule applied to
    training), so gains computed from the exact sums are identical
    IEEE doubles in both engines; uniform bins over global [min, max];
    tie-breaks (gain DESC, feature, bin). Residual updates route by
    BIN during training (same grid both engines); the returned model
    carries the equivalent thresholds for x < thr inference.

    Returns :func:`gbdt_load_json`-form (one depth-1 tree per round,
    ``reg:squarederror``), so :func:`gbdt_margin` /
    :func:`gbdt_predict_column` / :func:`gbdt_sql_expr` work unchanged.
    Rounds stop early when no split has positive gain.
    """
    if n_rounds < 1:
        raise ValueError("n_rounds must be >= 1")
    feats = [F.col(c).cast("double") for c in feature_cols]
    y = F.col(label_col).cast("double")
    cond = y.isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).cast("double").isNotNull()
    df = df.filter(cond)
    row = df.agg(*[m for c in feats for m in (F.min(c), F.max(c))]).collect()[0]
    if row[0] is None:
        raise ValueError("gbdt_train: no rows with non-null label and features")
    lims = [(float(row[2 * i]), float(row[2 * i + 1])) for i in range(len(feats))]

    def bin_col(i: int):
        lo, hi = lims[i]
        if hi <= lo:
            return F.lit(0)
        raw = F.floor((feats[i] - F.lit(lo)) * F.lit(float(n_bins)) / F.lit(hi - lo))
        return F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)).cast("int")

    base = df.select(
        *[bin_col(i).alias(f"_b{i}") for i in range(len(feats))],
        y.alias("_y"),
    )
    stumps: list[tuple[int, float, float, float, int]] = []  # (f, thr, vl, vr, bin)
    for _ in range(n_rounds):
        pred = F.lit(0.0)
        for fi, _thr, vl, vr, b in stumps:
            pred = pred + F.when(
                F.col(f"_b{fi}") <= F.lit(b), F.lit(vl)
            ).otherwise(F.lit(vr))
        resid = F.round(F.col("_y") - pred, 6).cast("decimal(18,6)")
        aggs = [F.count(F.lit(1)).alias("n_all"), F.sum(resid).alias("s_all")]
        for i in range(len(feats)):
            for b in range(n_bins):
                hit = F.col(f"_b{i}") == F.lit(b)
                aggs.append(F.sum(hit.cast("long")).alias(f"n_{i}_{b}"))
                aggs.append(
                    F.sum(F.when(hit, resid)).alias(f"s_{i}_{b}")
                )
        r = base.agg(*aggs).collect()[0]
        from decimal import Decimal

        n = int(r["n_all"])
        s_dec = r["s_all"] if r["s_all"] is not None else Decimal(0)
        s = float(s_dec)
        best = None  # (gain, f, b, nl, sl_dec)
        for i in range(len(feats)):
            nl = 0
            # accumulate the left sum as EXACT decimal (matching the
            # oracle's decimal cumulative window); cast to double only
            # inside the gain formula, exactly where SQL casts
            sl_dec = Decimal(0)
            for b in range(n_bins - 1):
                nl += int(r[f"n_{i}_{b}"])
                sl_dec += r[f"s_{i}_{b}"] or Decimal(0)
                nr = n - nl
                if nl == 0 or nr == 0:
                    continue
                sl = float(sl_dec)
                sr = float(s_dec - sl_dec)
                gain = sl * sl / nl + sr * sr / nr - s * s / n
                if gain > 0 and (best is None or gain > best[0]):
                    best = (gain, i, b, nl, sl_dec)
        if best is None:
            break
        _, fi, b, nl, sl_dec = best
        lo, hi = lims[fi]
        thr = lo + (b + 1) * (hi - lo) / n_bins
        vl = lr * (float(sl_dec) / nl)
        vr = lr * (float(s_dec - sl_dec) / (n - nl))
        stumps.append((fi, thr, vl, vr, b))
    trees = []
    for fi, thr, vl, vr, _b in stumps:
        trees.append(
            {
                "left": np.array([1, -1, -1], dtype=np.int64),
                "right": np.array([2, -1, -1], dtype=np.int64),
                "feat": np.array([fi, 0, 0], dtype=np.int64),
                "cond": np.array([thr, vl, vr], dtype=np.float64),
                "default_left": np.ones(3, dtype=bool),
            }
        )
    return {
        "trees": trees,
        "base_score": 0.0,
        "objective": "reg:squarederror",
        "num_feature": len(feature_cols),
    }


def logreg_train(
    df,
    feature_cols: list[str],
    label_col: str,
    lr: float = 1.0,
    iters: int = 3,
    l2: float = 0.0,
) -> list[float]:
    """Full-batch logistic-regression training, Spark-first: each
    gradient-descent step is ONE narrow aggregation — per-row gradient
    components (sigmoid(w.x) - y) * x_j summed map-side, a single
    (1 + n_features)-value row reaching the driver, weights fed back as
    literals into the next step's expression. The classic distributed
    linear-model recipe (Spark MLlib's own LogisticRegression trains
    exactly this way via treeAggregate); the corpus is scanned `iters`
    times, so cache the feature projection for multi-pass training.

    This is the training half of the fasttext-style quality-classifier
    stage in LLM data pipelines (GPT-3/CCNet-style quality filtering) —
    inference over the trained weights is a pure column expression.
    Returns [w_bias, w_1, ..., w_n] as Python floats.

    Rows with a null label or any null feature are dropped BEFORE the
    row count, so the gradient divisor matches exactly the rows the
    sums saw (a null row silently vanishes from ``F.sum`` but would
    still inflate ``count()``, deflating every gradient); an empty
    training set raises instead of ZeroDivisionError.
    """
    feats = [F.col(c).cast("double") for c in feature_cols]
    notnull = F.col(label_col).isNotNull()
    for c in feature_cols:
        notnull = notnull & F.col(c).isNotNull()
    df = df.filter(notnull)
    n = df.count()
    if n == 0:
        raise ValueError(
            "logreg_train: no rows with non-null label and features "
            f"(label={label_col!r}, features={feature_cols!r})"
        )
    w = [0.0] * (len(feature_cols) + 1)
    for _ in range(iters):
        z = F.lit(w[0])
        for wi, x in zip(w[1:], feats):
            z = z + F.lit(wi) * x
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        r = p - F.col(label_col).cast("double")
        row = df.agg(
            F.sum(r).alias("g0"),
            *[F.sum(r * x).alias(f"g{j + 1}") for j, x in enumerate(feats)],
        ).collect()[0]
        w = [
            wj - lr * (float(gj) / n + l2 * wj)
            for wj, gj in zip(w, row)
        ]
    return w


def logreg_predict(w: list[float], feature_cols: list[str]) -> Column:
    """P(y=1 | x) for logreg_train weights as a pure column expression
    (scan-stage inference, no UDF)."""
    z = F.lit(float(w[0]))
    for wi, c in zip(w[1:], feature_cols):
        z = z + F.lit(float(wi)) * F.col(c).cast("double")
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
