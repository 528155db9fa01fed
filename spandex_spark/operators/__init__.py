from spandex_spark.operators.tag import tag_points, tag  # noqa: F401
from spandex_spark.operators.overlay import proportion_overlap, intersection_join  # noqa: F401
from spandex_spark.operators.knn import knn_join  # noqa: F401
from spandex_spark.operators.zonal import (  # noqa: F401
    zonal_stats, clip_raster, downsample, raster_sample, resample_tiles,
    map_algebra, zonal_histogram, zonal_majority, raster_profile,
    raster_pyramid, reclassify)
from spandex_spark.operators.scaling import scale_to_targets  # noqa: F401
from spandex_spark.operators.validate import (  # noqa: F401
    invalid_geometry_check, duplicate_stacked_geometry_check, make_valid)
from spandex_spark.operators.reproject import (  # noqa: F401
    reproject, reproject_inverse, reproject_geom, transform)
from spandex_spark.operators.trim import trim, erase, erase_join  # noqa: F401
from spandex_spark.operators.split import (  # noqa: F401
    split_by_lines, polygonize_linework, node_lines)
from spandex_spark.operators.simplify import (  # noqa: F401
    simplify, convex_hull, snap_to_grid, point_on_surface, segmentize)
from spandex_spark.operators.toposimplify import simplify_topology  # noqa: F401
from spandex_spark.operators.snap import snap_to_layer  # noqa: F401
from spandex_spark.operators.affine import (  # noqa: F401
    affine_transform, translate, scale_geom, rotate)
from spandex_spark.operators.dissolve import dissolve_by, union_by  # noqa: F401
from spandex_spark.operators.distance import within_distance_join  # noqa: F401
from spandex_spark.operators.adaptive import adaptive_cells  # noqa: F401
from spandex_spark.operators.spatialstats import (  # noqa: F401
    morans_i, local_morans_i, getis_ord_gi_star)
from spandex_spark.operators.tiles import (  # noqa: F401
    tile_xy, tile_quadkey, tile_bounds, tile_pyramid)
from spandex_spark.operators.interpolate import (  # noqa: F401
    idw_grid, kernel_density_grid, tin_grid)
from spandex_spark.operators.kriging import (  # noqa: F401
    empirical_variogram, fit_variogram, kriging_grid)
from spandex_spark.operators.bpe import train_bpe, apply_bpe  # noqa: F401
from spandex_spark.operators.unigram import (  # noqa: F401
    train_unigram, apply_unigram)
from spandex_spark.operators.knlm import train_kn_lm, kn_prob, kn_score  # noqa: F401
from spandex_spark.operators.langmodel import (  # noqa: F401
    train_char_lm, lm_perplexity, perplexity_buckets)
from spandex_spark.operators.quality_model import (  # noqa: F401
    quality_features, train_quality_model, apply_quality_model)
from spandex_spark.operators.search import bm25_rank  # noqa: F401
from spandex_spark.operators.trajectory import (  # noqa: F401
    make_line, trip_stats, stay_points, od_matrix)
from spandex_spark.operators.robots import parse_robots, robots_filter  # noqa: F401
from spandex_spark.operators.mapmatch import map_match  # noqa: F401
from spandex_spark.operators.network import shortest_paths, service_areas  # noqa: F401
from spandex_spark.operators.viewshed import viewshed, viewshed_counts  # noqa: F401
from spandex_spark.operators.predicates import spatial_predicate_join  # noqa: F401
from spandex_spark.operators.bounds import (  # noqa: F401
    bounding_circle, oriented_envelope, max_inscribed_circle)
from spandex_spark.operators.geomdist import (  # noqa: F401
    frechet_distance, hausdorff_distance, closest_point)
from spandex_spark.operators.buffer import buffer_points, buffer_polygons  # noqa: F401
from spandex_spark.operators.lines import (  # noqa: F401
    nearest_line_join, line_length, clip_lines, line_interpolate,
    line_locate, line_merge, line_substring)
from spandex_spark.operators.cluster import (  # noqa: F401
    grid_cluster, cluster_within, dbscan, cluster_kmeans)
from spandex_spark.operators.timeseries import (  # noqa: F401
    time_rollup, asof_join, sessionize, session_stats)
from spandex_spark.operators.html import (  # noqa: F401
    extract_text, verify_extraction, extract_metadata)
from spandex_spark.operators.hexbin import hexbin  # noqa: F401
from spandex_spark.operators.costdist import (  # noqa: F401
    cost_distance, isochrones, cost_path, proximity)
from spandex_spark.operators.linkgraph import (  # noqa: F401
    extract_links, host_graph, pagerank, label_propagation,
    extract_anchors, anchor_stats, hits)
from spandex_spark.operators.urls import (  # noqa: F401
    url_parts, normalize_url, registrable_domain, domain_stats,
    parse_sitemap, frontier_batches)
from spandex_spark.operators.dedup import (  # noqa: F401
    line_dedup, decontaminate, substring_dedup)
from spandex_spark.operators.bloom import (  # noqa: F401
    bloom_params, bloom_build, bloom_probe, bloom_unseen)
from spandex_spark.operators.textstats import (  # noqa: F401
    tfidf_top_terms, readability, entropy_stats, c4_clean)
from spandex_spark.operators.sampling import (  # noqa: F401
    stratified_sample, sample_fraction, stratified_fraction_sample,
    temperature_resample)
from spandex_spark.operators.packing import (  # noqa: F401
    pack_chunks, pack_ffd)
from spandex_spark.operators.dsir import (  # noqa: F401
    dsir_weights, dsir_sample)
from spandex_spark.operators.bitext import mine_bitext  # noqa: F401
from spandex_spark.operators.align import align_sentences  # noqa: F401
from spandex_spark.operators.hotspots import emerging_hotspots  # noqa: F401
from spandex_spark.operators.toponym import resolve_toponyms  # noqa: F401
from spandex_spark.operators.subdivide import subdivide  # noqa: F401
from spandex_spark.operators.polygonize import polygonize  # noqa: F401
from spandex_spark.operators.pii import scrub_pii, pii_stats  # noqa: F401
from spandex_spark.operators.rasterize import rasterize  # noqa: F401
from spandex_spark.operators.regions import (  # noqa: F401
    region_group, watersheds, flow_accumulation)
from spandex_spark.operators.hydrology import fill_sinks  # noqa: F401
from spandex_spark.operators.focal import (  # noqa: F401
    slope, aspect, hillshade, halo_exchange, focal_stats, flow_direction,
    curvature)
from spandex_spark.operators.contour import contour_lines, assemble_contours  # noqa: F401
from spandex_spark.operators.textnorm import normalize_text, encoding_stats  # noqa: F401
from spandex_spark.operators.genpoints import generate_points  # noqa: F401
from spandex_spark.operators.voronoi import (  # noqa: F401
    alpha_shape, delaunay_edges, delaunay_triangles, voronoi_polygons)
from spandex_spark.operators.rangejoin import interval_join  # noqa: F401
from spandex_spark.operators.buffer import erode_polygons  # noqa: F401
