"""GeoTIFF ingest: pure-numpy baseline-TIFF reader/writer vs the public
spec. Byte-level header assertions keep the writer honest; the loaded
raster must drive zonal_stats identically to the generated tile table."""

import os
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from spandex_spark.sources.geotiff import read_geotiff, write_geotiff


class TestGeoTiff:
    def test_round_trip_values_and_georef(self, spark, tmp_path):
        rng = np.random.default_rng(4)
        arr = rng.normal(size=(40, 60))
        p = str(tmp_path / "t.tif")
        write_geotiff(p, arr, x0=-3.0, y0=2.0, res=0.25)
        df = read_geotiff(spark, p, tile_rows=16, tile_cols=32)
        tiles = {r.tile_id: r for r in df.collect()}
        # reassemble: engine rows ascend in latitude; TIFF rows descend
        full = np.full((40, 60), np.nan)
        for r in tiles.values():
            rr = round((r.y0 - 2.0) / 0.25)
            cc = round((r.x0 + 3.0) / 0.25)
            full[rr:rr + r.ny, cc:cc + r.nx] = \
                np.asarray(r.values).reshape(r.ny, r.nx)
        np.testing.assert_allclose(full, arr[::-1], rtol=0, atol=0)

    def test_bytes_match_spec(self, tmp_path):
        p = str(tmp_path / "s.tif")
        write_geotiff(p, np.zeros((4, 5)), x0=0.0, y0=0.0, res=1.0)
        buf = open(p, "rb").read()
        assert buf[:4] == b"II*\x00"
        (ifd,) = struct.unpack("<I", buf[4:8])
        (n,) = struct.unpack("<H", buf[ifd:ifd + 2])
        tags = {}
        for i in range(n):
            e = ifd + 2 + i * 12
            tag, typ, cnt = struct.unpack("<HHI", buf[e:e + 8])
            tags[tag] = (typ, cnt)
        assert tags[256] == (4, 1) and tags[257] == (4, 1)
        assert tags[259] == (3, 1)          # uncompressed
        assert tags[339] == (3, 1)          # sample format tag present
        assert tags[33550] == (12, 3)       # ModelPixelScale
        assert tags[33922] == (12, 6)       # ModelTiepoint
        assert sorted(tags) == list(tags)   # IFD entries ascending per spec

    def test_big_endian_and_int_samples(self, spark, tmp_path):
        """Reader handles MM byte order and integer samples (written by
        hand here, since the writer emits II/f8 only)."""
        arr = np.arange(12, dtype=">u2").reshape(3, 4)
        data = arr.tobytes()
        ifd_off = 8 + len(data)
        entries = [(256, 4, 1, 4), (257, 4, 1, 3), (258, 3, 1, 16),
                   (259, 3, 1, 1), (273, 4, 1, 8), (278, 4, 1, 3),
                   (279, 4, 1, len(data)), (339, 3, 1, 1),
                   (33550, 12, 3, None), (33922, 12, 6, None)]
        tail = ifd_off + 2 + len(entries) * 12 + 4
        out = b"MM\x00*" + struct.pack(">I", ifd_off) + data
        out += struct.pack(">H", len(entries))
        for tag, typ, cnt, val in entries:
            out += struct.pack(">HHI", tag, typ, cnt)
            if tag == 33550:
                out += struct.pack(">I", tail)
            elif tag == 33922:
                out += struct.pack(">I", tail + 24)
            elif typ == 3:
                out += struct.pack(">HH", val, 0)
            else:
                out += struct.pack(">I", val)
        out += struct.pack(">I", 0)
        out += struct.pack(">3d", 0.5, 0.5, 0.0)
        out += struct.pack(">6d", 0, 0, 0, 10.0, 21.5, 0)
        p = str(tmp_path / "be.tif")
        open(p, "wb").write(out)
        df = read_geotiff(spark, p)
        r = df.collect()[0]
        assert (r.x0, r.y0, r.res, r.nx, r.ny) == (10.0, 20.0, 0.5, 4, 3)
        got = np.asarray(r.values).reshape(3, 4)
        np.testing.assert_array_equal(got, np.arange(12).reshape(3, 4)[::-1])

    def test_zonal_over_geotiff_matches_tile_table(self, spark, tmp_path):
        """End-to-end: the bench raster written as ONE GeoTIFF, re-read and
        re-tiled, must produce byte-identical zonal statistics."""
        from spandex_spark.sources.grids import raster_tiles_df, zones_df
        from spandex_spark.operators import zonal_stats
        tiles = raster_tiles_df(spark)
        # assemble the full 400x400 image (row-major ascending lat)
        full = np.zeros((400, 400))
        for r in tiles.collect():
            rr = round((r.y0 + 10.0) / 0.05)
            cc = round((r.x0 + 10.0) / 0.05)
            full[rr:rr + 50, cc:cc + 50] = \
                np.asarray(r.values).reshape(50, 50)
        p = str(tmp_path / "full.tif")
        write_geotiff(p, full[::-1], x0=-10.0, y0=-10.0, res=0.05)
        loaded = read_geotiff(spark, p, tile_rows=100, tile_cols=100)
        a = {r.zone_id: (r.px_count, round(r.px_sum, 9))
             for r in zonal_stats(tiles, zones_df(spark)).collect()}
        b = {r.zone_id: (r.px_count, round(r.px_sum, 9))
             for r in zonal_stats(loaded, zones_df(spark)).collect()}
        assert a == b

    def test_multi_strip_read(self, spark, tmp_path):
        """RowsPerStrip < ImageLength: pixels split across several strips
        must reassemble in order."""
        arr = np.arange(24, dtype="<f8").reshape(6, 4)
        strips = [arr[i:i + 2].tobytes() for i in range(0, 6, 2)]
        offs, counts = [], []
        pos = 8
        for sdat in strips:
            offs.append(pos)
            counts.append(len(sdat))
            pos += len(sdat)
        data = b"".join(strips)
        ifd_off = 8 + len(data)
        # out-of-line arrays for offsets/counts (3 longs each)
        n_entries = 10
        tail = ifd_off + 2 + n_entries * 12 + 4
        entries = [(256, 4, 1, 4), (257, 4, 1, 6), (258, 3, 1, 64),
                   (259, 3, 1, 1), (273, 4, 3, tail), (278, 4, 1, 2),
                   (279, 4, 3, tail + 12), (339, 3, 1, 3),
                   (33550, 12, 3, tail + 24), (33922, 12, 6, tail + 48)]
        out = b"II*\x00" + struct.pack("<I", ifd_off) + data
        out += struct.pack("<H", n_entries)
        for tag, typ, cnt, val in entries:
            out += struct.pack("<HHI", tag, typ, cnt)
            if typ == 3:
                out += struct.pack("<HH", val, 0)
            else:
                out += struct.pack("<I", val)
        out += struct.pack("<I", 0)
        out += struct.pack("<3I", *offs)
        out += struct.pack("<3I", *counts)
        out += struct.pack("<3d", 1.0, 1.0, 0.0)
        out += struct.pack("<6d", 0, 0, 0, 0.0, 6.0, 0)
        p = str(tmp_path / "strips.tif")
        open(p, "wb").write(out)
        r = read_geotiff(spark, p).collect()[0]
        got = np.asarray(r.values).reshape(6, 4)
        np.testing.assert_array_equal(got, np.arange(24).reshape(6, 4)[::-1])


class TestCompression:
    def test_lzw_codec_round_trip(self):
        """TIFF-variant LZW (spec §13): early-change width bumps, Clear at
        table-full, MSB-first packing — encoder and decoder must invert
        each other across payloads that cross every width boundary."""
        import random
        from spandex_spark.sources.geotiff import lzw_decode, lzw_encode
        rng = random.Random(42)
        payloads = [
            b"", b"A", b"AAAAAAAAAAAA",
            bytes(range(256)) * 40,                       # width bumps
            bytes(rng.randrange(256) for _ in range(100_000)),  # resets
            b"TOBEORNOTTOBEORTOBEORNOT" * 3000,
            np.arange(50_000, dtype="<f8").tobytes(),
        ]
        for p in payloads:
            assert lzw_decode(lzw_encode(p)) == p

    def test_lzw_known_vector(self):
        """First codes of the canonical TIFF example: Clear, then literal
        codes, 9-bit MSB-first. Encoding b'\\x07\\x07\\x07' must start with
        Clear(256)=100000000 then 7=000000111 then 258 (the just-added
        '\\x07\\x07' entry)."""
        from spandex_spark.sources.geotiff import lzw_encode
        enc = lzw_encode(b"\x07\x07\x07")
        bits = "".join(f"{b:08b}" for b in enc)
        assert bits.startswith("100000000" + "000000111" + "100000010")

    def test_compressed_round_trips(self, spark, tmp_path):
        from spandex_spark.sources.geotiff import read_geotiff, write_geotiff
        rng = np.random.default_rng(3)
        arr = np.round(rng.uniform(-5, 5, (120, 90)), 3)
        sizes = {}
        for comp in ("none", "deflate", "lzw"):
            p = str(tmp_path / f"c_{comp}.tif")
            write_geotiff(p, arr, x0=-1.5, y0=2.0, res=0.25, compression=comp)
            sizes[comp] = os.path.getsize(p)
            tiles = read_geotiff(spark, p, tile_rows=64, tile_cols=64).collect()
            back = np.zeros((120, 90))
            for t in tiles:
                r0 = round((t.y0 - 2.0) / 0.25)
                c0 = round((t.x0 + 1.5) / 0.25)
                back[r0:r0 + t.ny, c0:c0 + t.nx] = \
                    np.array(t.values).reshape(t.ny, t.nx)
            np.testing.assert_array_equal(back, arr[::-1])
        assert sizes["deflate"] < sizes["none"]
        assert sizes["lzw"] < sizes["none"]

    def test_predictor2_horizontal_differencing(self, spark, tmp_path):
        """A deflate + predictor-2 uint16 file written tag-by-tag from the
        spec (the libtiff-default layout for compressed integer rasters)
        reads back exactly."""
        import zlib
        from spandex_spark.sources.geotiff import read_geotiff
        rng = np.random.default_rng(5)
        a = rng.integers(0, 1000, (40, 30)).astype("<u2")
        diff = a.copy()
        diff[:, 1:] = a[:, 1:] - a[:, :-1]          # modular differencing
        data = zlib.compress(diff.tobytes())
        entries = [(256, 4, 1, 30), (257, 4, 1, 40), (258, 3, 1, 16),
                   (259, 3, 1, 8), (273, 4, 1, 8), (278, 4, 1, 40),
                   (279, 4, 1, len(data)), (317, 3, 1, 2), (339, 3, 1, 1),
                   (33550, 12, 3, None), (33922, 12, 6, None)]
        ifd_off = 8 + len(data)
        tail = ifd_off + 2 + len(entries) * 12 + 4
        out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off)) + data
        out += struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            out += struct.pack("<HHI", tag, typ, cnt)
            if tag == 33550:
                out += struct.pack("<I", tail)
            elif tag == 33922:
                out += struct.pack("<I", tail + 24)
            elif typ == 3:
                out += struct.pack("<HH", val, 0)
            else:
                out += struct.pack("<I", val)
        out += struct.pack("<I", 0)
        out += struct.pack("<3d", 0.5, 0.5, 0.0)
        out += struct.pack("<6d", 0, 0, 0, 10.0, 10.0 + 40 * 0.5, 0.0)
        p = str(tmp_path / "pred.tif")
        open(p, "wb").write(bytes(out))
        tiles = read_geotiff(spark, p, tile_rows=64, tile_cols=64).collect()
        back = np.array(tiles[0].values).reshape(40, 30)
        np.testing.assert_array_equal(back, a[::-1].astype(float))


class TestTiledLayout:
    def test_tiled_deflate_read(self, spark, tmp_path):
        """A tiled (TileWidth/TileLength) deflate GeoTIFF built tag-by-tag
        from TIFF 6.0 §15 — the cloud-optimized-GeoTIFF layout — reads
        back exactly, edge-tile padding discarded."""
        import zlib
        from spandex_spark.sources.geotiff import read_geotiff
        rng = np.random.default_rng(11)
        ny, nx, tw, th = 70, 50, 32, 32          # ragged edges both axes
        a = np.round(rng.uniform(-3, 3, (ny, nx)), 3)
        tiles_across = (nx + tw - 1) // tw
        tiles_down = (ny + th - 1) // th
        blobs = []
        for tr in range(tiles_down):
            for tc in range(tiles_across):
                t = np.zeros((th, tw))
                sub = a[tr * th:tr * th + th, tc * tw:tc * tw + tw]
                t[:sub.shape[0], :sub.shape[1]] = sub
                blobs.append(zlib.compress(t.astype("<f8").tobytes()))
        n_tiles = len(blobs)
        data = b"".join(blobs)
        offs, pos = [], 8
        for b in blobs:
            offs.append(pos)
            pos += len(b)
        entries = [(256, 4, 1, nx), (257, 4, 1, ny), (258, 3, 1, 64),
                   (259, 3, 1, 8), (322, 4, 1, tw), (323, 4, 1, th),
                   (324, 4, n_tiles, None), (325, 4, n_tiles, None),
                   (339, 3, 1, 3), (33550, 12, 3, None), (33922, 12, 6, None)]
        ifd_off = 8 + len(data)
        tail = ifd_off + 2 + len(entries) * 12 + 4
        t_off = {324: tail, 325: tail + 4 * n_tiles,
                 33550: tail + 8 * n_tiles, 33922: tail + 8 * n_tiles + 24}
        out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off)) + data
        out += struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            out += struct.pack("<HHI", tag, typ, cnt)
            if tag in t_off:
                out += struct.pack("<I", t_off[tag])
            elif typ == 3:
                out += struct.pack("<HH", val, 0)
            else:
                out += struct.pack("<I", val)
        out += struct.pack("<I", 0)
        out += struct.pack(f"<{n_tiles}I", *offs)
        out += struct.pack(f"<{n_tiles}I", *[len(b) for b in blobs])
        out += struct.pack("<3d", 0.1, 0.1, 0.0)
        out += struct.pack("<6d", 0, 0, 0, -2.0, -1.0 + ny * 0.1, 0.0)
        p = str(tmp_path / "tiled.tif")
        open(p, "wb").write(bytes(out))
        got = read_geotiff(spark, p, tile_rows=64, tile_cols=64).collect()
        back = np.zeros((ny, nx))
        for t in got:
            r0 = round((t.y0 + 1.0) / 0.1)
            c0 = round((t.x0 + 2.0) / 0.1)
            back[r0:r0 + t.ny, c0:c0 + t.nx] = \
                np.array(t.values).reshape(t.ny, t.nx)
        np.testing.assert_array_equal(back, a[::-1])


class TestMultiBand:
    @staticmethod
    def _build(tmp_path, name, bands, pcfg, rows_per_strip):
        """Hand-build a multi-band uint8 TIFF (chunky pcfg=1 interleaves
        samples per pixel; planar pcfg=2 stores one plane of strips per
        band)."""
        spp = len(bands)
        ny, nx = bands[0].shape
        strips = []
        if pcfg == 1:
            inter = np.stack(bands, axis=-1)          # (ny, nx, spp)
            for r0 in range(0, ny, rows_per_strip):
                strips.append(inter[r0:r0 + rows_per_strip].tobytes())
        else:
            for b in bands:
                for r0 in range(0, ny, rows_per_strip):
                    strips.append(b[r0:r0 + rows_per_strip].tobytes())
        n = len(strips)
        offs, pos = [], 8
        for s in strips:
            offs.append(pos)
            pos += len(s)
        data = b"".join(strips)
        entries = [(256, 4, 1, nx), (257, 4, 1, ny), (258, 3, spp, None),
                   (259, 3, 1, 1), (273, 4, n, None), (277, 3, 1, spp),
                   (278, 4, 1, rows_per_strip), (279, 4, n, None),
                   (284, 3, 1, pcfg), (339, 3, 1, 1),
                   (33550, 12, 3, None), (33922, 12, 6, None)]
        ifd_off = 8 + len(data)
        tail = ifd_off + 2 + len(entries) * 12 + 4
        pos2 = tail
        t_off = {}
        if spp > 2:                       # BitsPerSample out-of-line
            t_off[258] = pos2
            pos2 += 2 * spp
        t_off[273] = pos2
        pos2 += 4 * n
        t_off[279] = pos2
        pos2 += 4 * n
        t_off[33550] = pos2
        t_off[33922] = pos2 + 24
        out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off)) + data
        out += struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            out += struct.pack("<HHI", tag, typ, cnt)
            if tag == 258:
                if spp > 2:
                    out += struct.pack("<I", t_off[258])
                elif spp == 2:
                    out += struct.pack("<HH", 8, 8)
                else:
                    out += struct.pack("<HH", 8, 0)
            elif tag in t_off:
                out += struct.pack("<I", t_off[tag])
            elif typ == 3:
                out += struct.pack("<HH", val, 0)
            else:
                out += struct.pack("<I", val)
        out += struct.pack("<I", 0)
        if spp > 2:
            out += struct.pack(f"<{spp}H", *([8] * spp))
        out += struct.pack(f"<{n}I", *offs)
        out += struct.pack(f"<{n}I", *[len(s) for s in strips])
        out += struct.pack("<3d", 0.5, 0.5, 0.0)
        out += struct.pack("<6d", 0, 0, 0, 0.0, ny * 0.5, 0.0)
        p = str(tmp_path / name)
        open(p, "wb").write(bytes(out))
        return p

    def test_chunky_rgb_band_select(self, spark, tmp_path):
        rng = np.random.default_rng(21)
        bands = [rng.integers(0, 255, (12, 10)).astype("<u1")
                 for _ in range(3)]
        p = self._build(tmp_path, "rgb.tif", bands, pcfg=1, rows_per_strip=5)
        from spandex_spark.sources.geotiff import read_geotiff
        for bi in range(3):
            r = read_geotiff(spark, p, band=bi).collect()[0]
            got = np.asarray(r.values).reshape(12, 10)
            np.testing.assert_array_equal(got, bands[bi][::-1].astype(float))

    def test_planar_two_band(self, spark, tmp_path):
        rng = np.random.default_rng(22)
        bands = [rng.integers(0, 255, (9, 7)).astype("<u1")
                 for _ in range(2)]
        p = self._build(tmp_path, "pl.tif", bands, pcfg=2, rows_per_strip=4)
        from spandex_spark.sources.geotiff import read_geotiff
        for bi in range(2):
            r = read_geotiff(spark, p, band=bi).collect()[0]
            got = np.asarray(r.values).reshape(9, 7)
            np.testing.assert_array_equal(got, bands[bi][::-1].astype(float))

    def test_band_out_of_range(self, spark, tmp_path):
        rng = np.random.default_rng(23)
        bands = [rng.integers(0, 255, (4, 4)).astype("<u1")]
        p = self._build(tmp_path, "sb.tif", bands, pcfg=1, rows_per_strip=4)
        from spandex_spark.sources.geotiff import read_geotiff
        with pytest.raises(ValueError):
            read_geotiff(spark, p, band=1)


class TestGeneralWriter:
    """write_geotiff's multi-band / tiled / anisotropic path, round-tripped
    through read_geotiff (writer and reader share only the TIFF spec)."""

    def test_tiled_multiband_chunky_roundtrip(self, spark, tmp_path):
        rng = np.random.default_rng(31)
        a = np.round(rng.uniform(-5, 5, (3, 70, 50)), 3)
        p = str(tmp_path / "mb.tif")
        write_geotiff(p, a, x0=-2.0, y0=-1.0, res=0.1, tile=(32, 32))
        for bi in range(3):
            got = read_geotiff(spark, p, band=bi, tile_rows=64,
                               tile_cols=64).collect()
            back = np.zeros((70, 50))
            for t in got:
                r0 = round((t.y0 + 1.0) / 0.1)
                c0 = round((t.x0 + 2.0) / 0.1)
                back[r0:r0 + t.ny, c0:c0 + t.nx] = \
                    np.array(t.values).reshape(t.ny, t.nx)
            np.testing.assert_array_equal(back, a[bi][::-1])

    def test_tiled_multiband_planar_deflate_roundtrip(self, spark, tmp_path):
        rng = np.random.default_rng(32)
        a = np.round(rng.uniform(0, 9, (2, 40, 33)), 3)
        p = str(tmp_path / "mbp.tif")
        write_geotiff(p, a, x0=0.0, y0=0.0, res=0.5, tile=(16, 16),
                      planar=True, compression="deflate")
        for bi in range(2):
            got = read_geotiff(spark, p, band=bi, tile_rows=64,
                               tile_cols=64).collect()
            back = np.zeros((40, 33))
            for t in got:
                r0 = round(t.y0 / 0.5)
                c0 = round(t.x0 / 0.5)
                back[r0:r0 + t.ny, c0:c0 + t.nx] = \
                    np.array(t.values).reshape(t.ny, t.nx)
            np.testing.assert_array_equal(back, a[bi][::-1])

    def test_multiband_strip_via_writer(self, spark, tmp_path):
        """Strip-layout multi-band (chunky and planar) from the writer."""
        rng = np.random.default_rng(33)
        a = np.round(rng.uniform(-1, 1, (3, 12, 10)), 3)
        for planar, name in ((False, "sc.tif"), (True, "sp.tif")):
            p = str(tmp_path / name)
            write_geotiff(p, a, x0=0.0, y0=0.0, res=0.5, planar=planar)
            for bi in range(3):
                r = read_geotiff(spark, p, band=bi).collect()[0]
                got = np.asarray(r.values).reshape(12, 10)
                np.testing.assert_array_equal(got, a[bi][::-1])

    def test_anisotropic_roundtrip_georef(self, spark, tmp_path):
        """sy != sx: values land at the right latitudes, res_y is carried."""
        rng = np.random.default_rng(34)
        a = np.round(rng.uniform(-3, 3, (80, 40)), 3)
        p = str(tmp_path / "aniso.tif")
        write_geotiff(p, a, x0=-2.0, y0=-1.0, res=0.1, res_y=0.025)
        got = read_geotiff(spark, p, tile_rows=50, tile_cols=50).collect()
        assert all(abs(t.res_y - 0.025) < 1e-15 and abs(t.res - 0.1) < 1e-15
                   for t in got)
        back = np.zeros((80, 40))
        for t in got:
            r0 = round((t.y0 + 1.0) / 0.025)
            c0 = round((t.x0 + 2.0) / 0.1)
            back[r0:r0 + t.ny, c0:c0 + t.nx] = \
                np.array(t.values).reshape(t.ny, t.nx)
        np.testing.assert_array_equal(back, a[::-1])
        # total y extent: 80 * 0.025 = 2.0 → top edge at y = 1.0
        assert max(t.y0 + t.ny * t.res_y for t in got) == pytest.approx(1.0)

    def test_anisotropic_raster_sample_and_clip(self, spark, tmp_path):
        """raster_sample picks the correct row with res_y; clip_raster
        emits anisotropic pixel centers."""
        from spandex_spark.operators.zonal import clip_raster, raster_sample
        ny, nx = 40, 20
        a = np.arange(ny * nx, dtype=float).reshape(ny, nx)
        p = str(tmp_path / "as.tif")
        write_geotiff(p, a[::-1], x0=0.0, y0=0.0, res=0.1, res_y=0.05)
        tiles = read_geotiff(spark, p, tile_rows=40, tile_cols=20)
        pts = spark.createDataFrame(
            [(0, 0.55, 0.17), (1, 1.25, 1.99), (2, 0.05, 2.5)],
            "pid long, lon double, lat double")
        got = {r.pid: r.v for r in
               raster_sample(pts, tiles, point_id_col="pid",
                             origin_x=0.0, origin_y=0.0).collect()}
        assert got[0] == a[3, 5]      # row = floor(0.17/0.05)
        assert got[1] == a[39, 12]
        assert got[2] is None         # above the raster (2.0 top)
        clipped = clip_raster(tiles, [0.0, 0.35, 0.35, 0.0],
                              [0.0, 0.0, 0.22, 0.22]).collect()
        # pixel centers: lon in {0.05,...,0.3}, lat in {0.025,...,0.175}
        assert len(clipped) == 3 * 4
        lats = sorted({round(r.lat_c, 6) for r in clipped})
        assert lats == [0.025, 0.075, 0.125, 0.175]


class TestPackBitsAndBigTiff:
    def test_packbits_spec_vector(self):
        """The worked example from TIFF 6.0 §9 / Apple TN1023 packs and
        unpacks byte-exactly."""
        from spandex_spark.sources.geotiff import (packbits_decode,
                                                   packbits_encode)
        unpacked = bytes.fromhex(
            "aaaaaa80002aaaaaaaaa80002a22aaaaaaaaaaaaaaaaaaaa")
        packed = bytes.fromhex("feaa0280002afdaa0380002a22f7aa")
        assert packbits_encode(unpacked) == packed
        assert packbits_decode(packed) == unpacked

    def test_packbits_roundtrip_random(self):
        from spandex_spark.sources.geotiff import (packbits_decode,
                                                   packbits_encode)
        rng = np.random.default_rng(41)
        for _ in range(20):
            # runs + noise, including >128-long runs and empty
            parts = []
            for _ in range(rng.integers(0, 8)):
                if rng.random() < 0.5:
                    parts.append(bytes([rng.integers(0, 256)])
                                 * rng.integers(1, 400))
                else:
                    parts.append(rng.integers(0, 256,
                                              rng.integers(1, 200))
                                 .astype("u1").tobytes())
            data = b"".join(parts)
            for rb in (None, 16):
                assert packbits_decode(packbits_encode(data, rb)) == data

    def test_packbits_geotiff_roundtrip(self, spark, tmp_path):
        rng = np.random.default_rng(42)
        # quantized values → byte runs worth packing
        a = np.round(rng.uniform(0, 3, (30, 20)))
        p = str(tmp_path / "pb.tif")
        write_geotiff(p, a, x0=0.0, y0=0.0, res=0.5, compression="packbits")
        r = read_geotiff(spark, p).collect()[0]
        np.testing.assert_array_equal(
            np.asarray(r.values).reshape(30, 20), a[::-1])

    def test_bigtiff_read(self, spark, tmp_path):
        """A hand-built BigTIFF (magic 43, 8-byte offsets, LONG8 strip
        tags) reads identically to its classic twin."""
        rng = np.random.default_rng(43)
        ny, nx = 25, 18
        a = np.round(rng.uniform(-2, 2, (ny, nx)), 3)
        data = a.astype("<f8").tobytes()
        entries = [(256, 4, 1, nx), (257, 4, 1, ny), (258, 3, 1, 64),
                   (259, 3, 1, 1), (273, 16, 1, 16), (278, 4, 1, ny),
                   (279, 16, 1, len(data)), (339, 3, 1, 3),
                   (33550, 12, 3, None), (33922, 12, 6, None)]
        ifd_off = 16 + len(data)
        tail = ifd_off + 8 + len(entries) * 20 + 8
        t_off = {33550: tail, 33922: tail + 24}
        out = bytearray(b"II" + struct.pack("<HHHQ", 43, 8, 0, ifd_off)) + data
        out += struct.pack("<Q", len(entries))
        for tag, typ, cnt, val in entries:
            out += struct.pack("<HHQ", tag, typ, cnt)
            if tag in t_off:
                out += struct.pack("<Q", t_off[tag])
            elif typ == 3:
                out += struct.pack("<HHHH", val, 0, 0, 0)
            else:
                out += struct.pack("<Q", val)
        out += struct.pack("<Q", 0)  # next IFD
        out += struct.pack("<3d", 0.1, 0.1, 0.0)
        out += struct.pack("<6d", 0, 0, 0, -1.0, -2.0 + ny * 0.1, 0.0)
        p = str(tmp_path / "big.tif")
        open(p, "wb").write(bytes(out))
        got = read_geotiff(spark, p).collect()[0]
        np.testing.assert_array_equal(
            np.asarray(got.values).reshape(ny, nx), a[::-1])
        assert got.x0 == -1.0 and got.y0 == -2.0
