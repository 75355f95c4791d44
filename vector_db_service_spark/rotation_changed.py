"""The one hand-maintained input of the driver rotation (read by
scripts/gen_status.py and tests/test_rotation.py; everything else
derives from the committed artifacts): the registered queries whose
builders run a line the current change touched, so their old green rows
no longer certify the current code. Reset it with each change: build
every registered query under a line tracer, once on the parent against
the lines the change removes and once on the change against the lines
it adds, and list every query either run reaches.
"""

CHANGED_THIS_ROUND: tuple[str, ...] = (
    # Stored LSH/grid probes scan a resident copy of their partition, the
    # stored IVF probe and every flat or library search the libraries'
    # copies, through one helper (knn.keep_resident).
    "i11_stored_grid_probe",
    "i11_stored_index_probe",
    "i11_stored_ivf_probe",
    "knn_dispatch_flat",
    "knn_dispatch_grid",
    "knn_dispatch_lsh",
    "knn_flat_cosine",
    "knn_flat_cosine_library",
    "knn_flat_dot_product",
    "knn_flat_euclidean",
    "knn_flat_manhattan",
    "knn_grid_euclidean",
    "knn_lsh_cosine",
    "knn_range_search",
    "knn_safe_flat",
    "knn_search_hydrated",
    "obs_search_meta",
    "obs_timed_search",
    "t5_k_exceeds_n",
    # store.load_km_centers narrows its error handling to unreadable files,
    # checks the schema itself and reads a dir with no data file as a miss.
    "mllib_ivf_kmeans_topk",
)
