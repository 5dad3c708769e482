package org.iceberg_spark.util;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;

/**
 * The leaf-file array of a manifest-fed relation (relations.py) in one
 * py4j call. Built from Python, the same array costs three calls per
 * file (a Path, a FileStatus, an array store); py4j converts a Python
 * list element by element, so the paths and sizes cross as two joined
 * strings instead.
 */
public final class FileStatuses {
  private FileStatuses() {}

  /**
   * One {@code FileStatus(size, false, 1, 128 MB, 0, new Path(path))}
   * per file: {@code paths} are qualified paths joined by {@code '\n'},
   * {@code sizes} their byte sizes joined by {@code ','}, in the same
   * order.
   */
  public static FileStatus[] of(String paths, String sizes) {
    String[] ps = paths.split("\n", -1);
    String[] ss = sizes.split(",", -1);
    if (ps.length != ss.length) {
      throw new IllegalArgumentException(
          ps.length + " paths but " + ss.length + " sizes");
    }
    FileStatus[] out = new FileStatus[ps.length];
    for (int i = 0; i < ps.length; i++) {
      out[i] = new FileStatus(Long.parseLong(ss[i]), false, 1, 128L << 20,
          0L, new Path(ps[i]));
    }
    return out;
  }
}
