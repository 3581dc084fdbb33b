#!/usr/bin/env python3
"""Execute the REFERENCE's full BinaryCarver fit + save + transform on the
golden 3000-row dataset and dump the artifacts as Scala test fixtures:

  src/test/resources/golden/ref_saved_BinaryCarver.json   (carver.save output)
  src/test/resources/golden/ref_saved_transformed.csv     (ordinal-encoded transform)

The reference's scipy/sklearn dependencies are absent in this sandbox; the
tiny surface the binary fit path actually touches is re-implemented here
(chi2_contingency in numpy, norm.ppf via statistics.NormalDist, sklearn
base classes as no-ops). Everything else is import-satisfying stubs that
raise if called — so a green run proves the fit used only the real shims.

Usage:  python3 tools/gen_ref_saved.py
        python3 tools/gen_ref_saved.py --check-load path/to/our_model.json
            (also loads a Scala-written reference-schema JSON — the file
             `RefJson.save` writes, `RefJson.write`'s text — with the
             reference's BinaryCarver.load and verifies its transform
             matches the reference-fitted carver's — bidirectional interop)
"""
import json
import statistics
import sys
import types

import numpy as np
import pandas as pd

OUT = "src/test/resources/golden"


# ---- scipy shim ------------------------------------------------------------
def chi2_contingency(observed, correction=True):
    """numpy re-implementation of the scipy statistic (value [0] only is used
    by the reference's evaluators; Yates correction iff dof == 1)."""
    obs = np.asarray(observed, dtype=float)
    rowsums = obs.sum(axis=1, keepdims=True)
    colsums = obs.sum(axis=0, keepdims=True)
    total = obs.sum()
    expected = rowsums * colsums / total
    dof = (obs.shape[0] - 1) * (obs.shape[1] - 1)
    if correction and dof == 1:
        diff = np.abs(obs - expected) - 0.5
        diff = np.where(diff < 0, 0.0, diff)
        chi2 = float((diff * diff / expected).sum())
    else:
        d = obs - expected
        chi2 = float((d * d / expected).sum())
    return chi2, None, dof, expected


class _Norm:
    @staticmethod
    def ppf(q):
        return statistics.NormalDist().inv_cdf(q)

    @staticmethod
    def cdf(x):
        return statistics.NormalDist().cdf(x)


def _unused(name):
    def fn(*a, **k):
        raise RuntimeError(f"stubbed scipy function {name} was called")
    return fn


scipy = types.ModuleType("scipy")
scipy_stats = types.ModuleType("scipy.stats")
scipy_stats.chi2_contingency = chi2_contingency
scipy_stats.norm = _Norm()
scipy_stats.t = _Norm()  # only .ppf-like use in stability; unused in fit
# the continuous/ordinal family fits need real rank statistics — reuse the
# exact-parity numpy implementations from scishim
import scishim as _scishim  # noqa: E402

scipy_stats.kruskal = _scishim._kruskal
scipy_stats.rankdata = _scishim._rankdata
scipy_stats.tiecorrect = _scishim._tiecorrect
for n in ("pearsonr", "spearmanr"):
    setattr(scipy_stats, n, _unused(n))
scipy_spatial = types.ModuleType("scipy.spatial")
scipy_spatial_distance = types.ModuleType("scipy.spatial.distance")
scipy_spatial_distance.correlation = _unused("correlation")
scipy.stats = scipy_stats
scipy.spatial = scipy_spatial
scipy_spatial.distance = scipy_spatial_distance
sys.modules["scipy"] = scipy
sys.modules["scipy.stats"] = scipy_stats
sys.modules["scipy.spatial"] = scipy_spatial
sys.modules["scipy.spatial.distance"] = scipy_spatial_distance

# ---- sklearn shim ----------------------------------------------------------
sklearn = types.ModuleType("sklearn")
sk_base = types.ModuleType("sklearn.base")


class BaseEstimator:
    pass


class TransformerMixin:
    def fit_transform(self, X, y=None, **kw):
        self.fit(X, y, **kw)
        return self.transform(X)


sk_base.BaseEstimator = BaseEstimator
sk_base.TransformerMixin = TransformerMixin
sk_val = types.ModuleType("sklearn.utils.validation")


def check_is_fitted(est, attributes=None):
    if not getattr(est, "is_fitted", False):
        raise RuntimeError("not fitted")


sk_val.check_is_fitted = check_is_fitted
sk_utils = types.ModuleType("sklearn.utils")
sk_utils.validation = sk_val
sk_ms = types.ModuleType("sklearn.model_selection")


class BaseCrossValidator:
    pass


sk_ms.BaseCrossValidator = BaseCrossValidator
sk_ms.check_cv = _unused("check_cv")
sklearn.base = sk_base
sklearn.utils = sk_utils
sklearn.model_selection = sk_ms
sys.modules["sklearn"] = sklearn
sys.modules["sklearn.base"] = sk_base
sys.modules["sklearn.utils"] = sk_utils
sys.modules["sklearn.utils.validation"] = sk_val
sys.modules["sklearn.model_selection"] = sk_ms

# ---- tqdm shim (progress bars only) ----------------------------------------
tqdm_mod = types.ModuleType("tqdm")
tqdm_auto = types.ModuleType("tqdm.auto")


def _tqdm(iterable=None, *a, **k):
    return iterable if iterable is not None else None


tqdm_mod.tqdm = _tqdm
tqdm_auto.tqdm = _tqdm
tqdm_mod.auto = tqdm_auto
sys.modules["tqdm"] = tqdm_mod
sys.modules["tqdm.auto"] = tqdm_auto

# ---- statsmodels shim (selector measures only; unused in the fit) ----------
sm = types.ModuleType("statsmodels")
sm_formula = types.ModuleType("statsmodels.formula")
sm_formula_api = types.ModuleType("statsmodels.formula.api")
sm_formula_api.ols = _unused("ols")
sm.formula = sm_formula
sm_formula.api = sm_formula_api
sys.modules["statsmodels"] = sm
sys.modules["statsmodels.formula"] = sm_formula
sys.modules["statsmodels.formula.api"] = sm_formula_api

# ---- run the reference -----------------------------------------------------
sys.path.insert(0, "/root/reference")
from AutoCarver import BinaryCarver  # noqa: E402
from AutoCarver.features import Features  # noqa: E402
from AutoCarver.discretizers.utils.base_discretizer import ProcessingConfig  # noqa: E402


def dataset(seed=0):
    """tests/properties/test_golden_carving.py:16-44, bit-exact."""
    rng = np.random.default_rng(seed)
    n = 3000
    X = pd.DataFrame(
        {
            "num_a": rng.normal(size=n),
            "num_b": rng.gamma(2.0, size=n),
            "cat_a": rng.choice(list("abcdefgh"), size=n),
            "cat_b": rng.choice(["x", "y", "z"], size=n, p=[0.7, 0.2, 0.1]),
        }
    )
    rng2 = np.random.default_rng(0)
    signal = X["num_a"] + 0.5 * X["num_b"] + (X["cat_a"] < "d") * 1.5 + rng2.normal(
        scale=0.5, size=len(X))
    y = (signal > np.median(signal)).astype(int)
    return X, y


def main():
    from pathlib import Path

    X, y = dataset()
    features = Features(categoricals=["cat_a", "cat_b"], numericals=["num_a", "num_b"])
    carver = BinaryCarver(features, min_freq=0.05, max_n_mod=5,
                          config=ProcessingConfig(ordinal_encoding=True))
    carver.fit(X, y)

    saved = Path(OUT) / "ref_saved_BinaryCarver.json"
    carver.save(saved)
    print(f"wrote {saved}")

    out = carver.transform(X.copy())
    out.insert(0, "row", range(len(out)))
    out.to_csv(Path(OUT) / "ref_saved_transformed.csv", index=False)
    print(f"wrote {OUT}/ref_saved_transformed.csv  cols={list(out.columns)}")

    # ---- ordinal-feature fit (user-declared value order) -------------------
    # deterministic ordinal column with a rare top level: the declared order
    # is NOT the target-rate order, so adjacent-only merging is observable
    rng3 = np.random.default_rng(7)
    levels = ["low", "mid", "high", "vhigh"]
    probs = [0.45, 0.35, 0.17, 0.03]
    Xo = X.copy()
    Xo["ord_a"] = rng3.choice(levels, size=len(X), p=probs)
    features_o = Features(
        numericals=["num_a"],
        ordinals={"ord_a": levels},
    )
    carver_o = BinaryCarver(features_o, min_freq=0.05, max_n_mod=5,
                            config=ProcessingConfig(ordinal_encoding=True))
    carver_o.fit(Xo, y)
    carver_o.save(Path(OUT) / "ref_saved_OrdinalFeature.json")
    out_o = carver_o.transform(Xo.copy())
    dump = Xo[["num_a", "ord_a"]].copy()
    dump.insert(0, "row", range(len(dump)))
    dump["y_binary"] = y.values
    dump["t_num_a"] = out_o["num_a"].values
    dump["t_ord_a"] = out_o["ord_a"].values
    dump.to_csv(Path(OUT) / "ref_saved_ordinal.csv", index=False)
    print(f"wrote {OUT}/ref_saved_OrdinalFeature.json and ref_saved_ordinal.csv")
    print("ordinal values:", carver_o.features("ord_a").values,
          "content:", carver_o.features("ord_a").content)

    # ---- ordinal / multiclass / continuous family artifacts ----------------
    # (rate_reference payloads: ridit marginal / CA axis; continuous stds)
    from AutoCarver import ContinuousCarver, MulticlassCarver, OrdinalCarver

    Xf = X[["num_a", "cat_a"]].copy()
    y_ord = pd.Series(1 + (X["num_a"] > -0.3).astype(int) + (X["num_a"] > 0.6).astype(int))
    # class boundaries cut across num_a with cat_a-dependent noise so both
    # features carry (imperfect) signal
    mc_score = X["num_a"] + (X["cat_a"] < "d") * 0.8
    y_mc = pd.Series(np.where(mc_score > 0.9, "high",
                              np.where(mc_score > -0.2, "mid", "low")))
    y_cont = X["num_a"] * 2.0 + X["num_b"]

    fams = [
        ("OrdinalCarver", OrdinalCarver, y_ord),
        ("MulticlassCarver", MulticlassCarver, y_mc),
        ("ContinuousCarver", ContinuousCarver, y_cont),
    ]
    fam_outs = {}
    for fam_name, cls, yy in fams:
        feats_f = Features(categoricals=["cat_a"], numericals=["num_a"])
        cv = cls(feats_f, min_freq=0.05, max_n_mod=5,
                 config=ProcessingConfig(ordinal_encoding=True))
        cv.fit(Xf.copy(), yy)
        cv.save(Path(OUT) / f"ref_saved_{fam_name}.json")
        t = cv.transform(Xf.copy())
        fam_outs[fam_name] = (cv, t, yy)
        dump = Xf.copy()
        dump.insert(0, "row", range(len(dump)))
        dump["y"] = yy.values
        dump["t_num_a"] = t["num_a"].values
        dump["t_cat_a"] = t["cat_a"].values
        dump.to_csv(Path(OUT) / f"ref_saved_{fam_name.lower()}.csv", index=False)
        print(f"wrote {OUT}/ref_saved_{fam_name}.json and ref_saved_{fam_name.lower()}.csv")

    # ---- nested-feature artifact (is_nested + parents + default bucket) ----
    nrows = []
    for i in range(4000):
        m = i % 100
        if m < 45: city, region = "paris", "idf"
        elif m < 85: city, region = "lyon", "aura"
        elif m < 93: city, region = "berlin", "be"
        elif m < 96: city, region = "nice", "paca"
        elif m < 98: city, region = "cannes", "paca"
        else: city, region = "tinytown", "tinyreg"
        h = (i * 2654435761) % 97
        base = {"paris": 10, "lyon": 40, "berlin": 60, "nice": 75, "cannes": 80, "tinytown": 90}[city]
        nrows.append((city, region, 1 if h < base else 0))
    Xn = pd.DataFrame(nrows, columns=["city", "region", "y"])
    yn = Xn.pop("y")
    nc = BinaryCarver(Features(nested={"city": ["region"]}), min_freq=0.1, max_n_mod=4,
                      config=ProcessingConfig(ordinal_encoding=True))
    nc.fit(Xn.copy(), yn)
    nc.save(Path(OUT) / "ref_saved_NestedFeature.json")
    t_n = nc.transform(Xn.copy())
    dump = Xn.copy()
    dump.insert(0, "row", range(len(dump)))
    dump["y"] = yn.values
    dump["t_city"] = t_n["city"].values
    dump.to_csv(Path(OUT) / "ref_saved_nested.csv", index=False)
    print(f"wrote {OUT}/ref_saved_NestedFeature.json and ref_saved_nested.csv")

    # ---- one-vs-rest artifact (per-class versions f__y=<class>) ------------
    from AutoCarver import OneVsRestCarver

    ovr = OneVsRestCarver(Features(categoricals=["cat_a"], numericals=["num_a"]),
                          min_freq=0.05, max_n_mod=5,
                          config=ProcessingConfig(ordinal_encoding=True))
    ovr.fit(Xf.copy(), y_mc)
    ovr.save(Path(OUT) / "ref_saved_OneVsRestCarver.json")
    t_ovr = ovr.transform(Xf.copy())
    dump = Xf.copy()
    dump.insert(0, "row", range(len(dump)))
    dump["y"] = y_mc.values
    for c in t_ovr.columns:
        if "__y=" in c:
            dump["t_" + c.replace("__y=", "_Y_")] = t_ovr[c].values
    dump.to_csv(Path(OUT) / "ref_saved_onevsrestcarver.csv", index=False)
    print(f"wrote {OUT}/ref_saved_OneVsRestCarver.json and csv; cols={list(dump.columns)}")

    if len(sys.argv) > 2 and sys.argv[1] == "--check-load":
        # --check-load <path> [binary|ordinal|multiclass|continuous|ovr]
        fam = sys.argv[3] if len(sys.argv) > 3 else "binary"
        by_fam = {
            "binary": (BinaryCarver, X, out),
            "ordinal": (OrdinalCarver, Xf, fam_outs["OrdinalCarver"][1]),
            "multiclass": (MulticlassCarver, Xf, fam_outs["MulticlassCarver"][1]),
            "continuous": (ContinuousCarver, Xf, fam_outs["ContinuousCarver"][1]),
            "ovr": (OneVsRestCarver, Xf, t_ovr),
        }
        cls, Xc, ref_out = by_fam[fam]
        ours = cls.load(Path(sys.argv[2]))
        theirs = ref_out.drop(columns=["row"], errors="ignore")
        mine = ours.transform(Xc.copy())
        same = (mine[theirs.columns].values == theirs.values).all()
        print(f"reference {fam} loaded our JSON; transforms identical: {same}")
        if not same:
            sys.exit(1)


if __name__ == "__main__":
    main()
