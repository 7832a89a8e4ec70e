package cerebro.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * {@code fs.file.impl}: Hadoop's checksummed local file system over
 * {@link NioRawLocalFileSystem}, so {@code .crc} sidecars are still written
 * and verified.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
