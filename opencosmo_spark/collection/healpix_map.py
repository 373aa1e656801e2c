"""HealpixMap: one row per HEALPix pixel, value columns per row.

Parity target: reference
``python/opencosmo/collection/lightcone/healpix_map.py:93``. Degrade
(``with_resolution``, reference :426-508) is a textbook hash
aggregate: nested-scheme pixels at nside have their parent at
``pixel // 4^k`` — groupBy + avg over every value column.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .._litarr import sql_ident, sql_in
from ..dataset import Dataset
from ..spatial.region import ConeRegion, HealpixRegion, SkyboxRegion

PIX = "pixel"


def _to_healsparse(pixels, pdf, value_cols, nside_lr, nside, hsp):
    """The healsparse output adapter's actual logic with the module
    injected: one ``HealSparseMap.make_empty(nside_coverage,
    nside_sparse, dtype)`` per value column, populated by nested-pixel
    assignment (reference healpix_map.py:328-408). ``get_data`` passes
    the real healsparse module; the contract test passes a vendored
    minimal fixture so the construction order/args are exercised in
    CI without the wheel."""
    import numpy as np

    result = {}
    for c in value_cols:
        m = hsp.HealSparseMap.make_empty(nside_lr, nside, np.float32)
        m[pixels] = pdf[c].to_numpy(dtype=np.float32)
        result[c] = m
    return result[value_cols[0]] if len(result) == 1 else result


class HealpixMap(Dataset):
    def __init__(self, df, nside: int, nside_lr: int | None = None, **kw):
        super().__init__(df, **kw)
        if PIX not in df.columns:
            raise ValueError("HealpixMap requires a 'pixel' column")
        self._nside = int(nside)
        # coverage (low-res) nside for healsparse output; healsparse
        # requires it strictly coarser than the sparse nside
        self._nside_lr = int(nside_lr) if nside_lr else max(1, min(32, self._nside // 4))

    @property
    def nside(self) -> int:
        return self._nside

    @property
    def nside_lr(self) -> int:
        return self._nside_lr

    @property
    def npix(self) -> int:
        return 12 * self._nside * self._nside

    def _clone(self, df=None, **kw) -> "HealpixMap":
        base = super()._clone(df, **kw)
        return HealpixMap(
            base._df,
            nside=self._nside,
            nside_lr=self._nside_lr,
            header=base._header,
            units=base._units,
            descriptions=base._descriptions,
            sort_keys=base._sort_keys,
            region=base._region,
            convention=base._convention,
            base_convention=base._base_convention,
            base_units=base._base_units,
        )

    def with_resolution(self, nside: int) -> "HealpixMap":
        """Degrade to a coarser nside: mean-aggregate every value
        column over ``pixel // ratio^2`` (reference :459-472)."""
        if nside > self._nside:
            raise ValueError("can only degrade to a coarser resolution")
        if nside == self._nside:
            return self
        ratio = (self._nside // nside) ** 2
        value_cols = [c for c in self.columns if c != PIX]
        parent = F.floor(F.col(PIX) / F.lit(ratio)).cast("long").alias(PIX)
        g = self._df.groupBy(parent).agg(
            *[F.avg(c).alias(c) for c in value_cols]
        )
        out = self._clone(g.select(PIX, *value_cols))
        out._nside = nside
        return out

    def bound(self, region, select_by=None) -> "HealpixMap":
        """Restrict to pixels intersecting a sky region."""
        if isinstance(region, HealpixRegion):
            pix = sql_ident(PIX)
            if region.nside != self._nside:
                if region.nside > self._nside:
                    raise ValueError("region nside finer than map nside")
                ratio = (self._nside // region.nside) ** 2
                pix = f"CAST(floor({pix} / {ratio}) AS BIGINT)"
            return self._clone(
                self._df.filter(F.expr(sql_in(pix, region.pixels))),
                region=region,
            )
        if isinstance(region, (ConeRegion, SkyboxRegion)):
            from ..spatial.healpix import query_region

            interior, boundary = query_region(self._nside, region)
            return self._clone(
                self._df.filter(F.expr(sql_in(sql_ident(PIX), interior + boundary))),
                region=region,
            )
        raise TypeError(f"unsupported region {type(region).__name__}")

    def cone_search(self, ra: float, dec: float, radius: float) -> "HealpixMap":
        return self.bound(ConeRegion(float(ra), float(dec), float(radius)))

    def to_full_sky(self, fill: float = float("nan")) -> "HealpixMap":
        """Densify to all 12*nside^2 pixels (masked partial-sky output)."""
        spark = self._df.sparkSession
        allpix = spark.range(self.npix).select(F.col("id").alias(PIX))
        out = allpix.join(self._df, PIX, "left")
        return self._clone(out)

    # ------------------------------------------------------------------
    # map-format output (reference healpix_map.py:328-408)
    # ------------------------------------------------------------------
    def get_data(self, format: str = "pandas", nside_out: int | None = None, **kw):
        """Materialize the map. Beyond the Dataset formats, supports the
        reference's map formats (healpix_map.py:328-408):

        * ``"healpix"`` — dense per-column float32 arrays indexed by
          pixel (masked arrays when the map is partial-sky); pure
          numpy, always available;
        * ``"healsparse"`` — ``healsparse.HealSparseMap`` per value
          column (the single map directly when there is one value
          column), import-gated: the lib isn't in this image.

        Collecting a map is a materialization boundary by design —
        npix(nside) values, not event-scale data; degrade first
        (``nside_out``) for coarse products.
        """
        if nside_out is not None:
            return self.with_resolution(nside_out).get_data(format, **kw)
        if format not in ("healpix", "healsparse"):
            return super().get_data(format, **kw)

        import numpy as np

        pdf = self.df.orderBy(PIX).toPandas()
        pixels = pdf[PIX].to_numpy(dtype=np.int64)
        value_cols = [c for c in pdf.columns if c != PIX]

        if format == "healpix":
            storage = {}
            partial = len(pixels) != self.npix
            for c in value_cols:
                arr = np.zeros(self.npix, dtype=np.float32)
                arr[pixels] = pdf[c].to_numpy(dtype=np.float32)
                if partial:
                    mask = np.ones(self.npix, dtype=bool)
                    mask[pixels] = False
                    arr = np.ma.masked_array(arr, mask)
                storage[c] = arr
            return storage[value_cols[0]] if len(storage) == 1 else storage

        try:
            import healsparse as hsp  # noqa: PLC0415 - optional dep
        except ImportError as exc:  # pragma: no cover - lib not in image
            raise ImportError(
                "healsparse output needs the 'healsparse' package "
                "(pip install healsparse); 'healpix' format works "
                "without it"
            ) from exc
        return _to_healsparse(
            pixels, pdf, value_cols, self._nside_lr, self._nside, hsp
        )
